"""Benchmark decontamination + TF-IDF + sequence packing. [extension]

Training-data curation operators with no reference analog (SURVEY §2
flags the LLM-pipeline stack `[extension]`):

  * decontamination — flag training documents that contain any word
    n-gram from an evaluation/benchmark set. The benchmark side of a
    real pipeline is a few MB of eval prompts: its shingle set
    BROADCASTS, so the contamination scan is a map-side semi-join over
    the training corpus — no shuffle of the corpus, ever, at any scale.
  * TF-IDF top terms — per-document top-k salient terms. Two corpus
    passes (df per term, tf per doc-term) + one broadcast of the
    (distinct-term, idf) table.
  * sequence packing — concatenate consecutive documents into
    fixed-token-budget training sequences. The greedy streaming packer
    is inherently sequential; the distributed contract used here is
    deterministic offset packing: within each source, docs in doc_id
    order are laid out by cumulative token count and a sequence breaks
    at each budget boundary — one window cumsum, no driver loop, and
    the layout is stable under re-partitioning (it depends only on the
    data, not the task schedule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions import hashing as H
from velox_hadoop_spark.functions.pairs import id_pairs
from velox_hadoop_spark.operators.dedup import shingle_set
from velox_hadoop_spark.plans.registry import register

DECONTAM_K = 8          # benchmark n-gram length (words)
BENCH_SOURCE = "src0"   # stand-in eval set: one source partition
PACK_BUDGET = 256       # tokens per packed training sequence


def contamination_scan(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DECONTAM_K,
) -> DataFrame:
    """Per-training-doc count of distinct benchmark k-grams it contains.

    Only contaminated docs (≥ 1 hit) are emitted. The benchmark shingle
    set is deduped and broadcast — the training corpus never shuffles.
    """
    bench_sh = shingle_set(benchmark, id_col, text_col, k).select("shingle").distinct()
    train_sh = shingle_set(train, id_col, text_col, k)
    return (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit_ngrams"))
    )


@register(
    "benchmark_decontamination",
    oracle=f"""
        WITH bench_sh AS (
            SELECT DISTINCT shingle FROM (
                {H.duck_shingle_cte("(SELECT * FROM documents WHERE source = '" + BENCH_SOURCE + "')", "doc_id", "text", DECONTAM_K)}
            )
        ),
        train_sh AS (
            {H.duck_shingle_cte("(SELECT * FROM documents WHERE source <> '" + BENCH_SOURCE + "')", "doc_id", "text", DECONTAM_K)}
        )
        SELECT t.doc_id, count(*) AS n_hit_ngrams
        FROM train_sh t JOIN bench_sh b ON t.shingle = b.shingle
        GROUP BY t.doc_id
    """,
    tags=("curation", "decontamination", "extension"),
)
def q_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs sharing any 8-gram with the eval set (source
    src0 stands in for the benchmark corpus)."""
    docs = read_table(spark, sf_dir, "documents")
    return contamination_scan(
        docs.where(F.col("source") != BENCH_SOURCE),
        docs.where(F.col("source") == BENCH_SOURCE),
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per document (ties by term asc).

    idf = ln(N / df) over raw whitespace tokens. The (term, idf) table
    is distinct-term sized — which for raw web-scale text (URLs,
    numbers, typos) is unbounded, so it is NOT force-broadcast: the
    term equi-join strategy is left to Catalyst/AQE, which broadcasts
    it while it fits and shuffle-joins on term beyond that. Only the
    1-row N aggregate keeps a forced broadcast.
    """
    tokens = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("term")
    ).where(F.col("term") != "")
    tf = tokens.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # N as a broadcast 1-row aggregate (scalar-subquery shape) — the
    # plan stays fully lazy, no driver action at construction time.
    n_docs = docs.agg(F.countDistinct(id_col).cast("double").alias("n_docs"))
    df_ = tokens.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    idf = df_.crossJoin(F.broadcast(n_docs)).select(
        "term", F.log(F.col("n_docs") / F.col("df")).alias("idf")
    )
    scored = tf.join(idf, "term").select(
        F.col(id_col),
        "term",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= top_k)
    )


@register(
    "tfidf_top_terms",
    oracle=r"""
        WITH tokens AS (
            SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
            FROM documents
        ),
        tok AS (SELECT doc_id, term FROM tokens WHERE term <> ''),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        idf AS (
            SELECT term, ln((SELECT CAST(n_docs AS DOUBLE) FROM n) / count(DISTINCT doc_id)) AS idf
            FROM tok GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id, tf.term, ROUND(tf.tf * idf.idf, 6) AS tfidf
            FROM tf JOIN idf ON tf.term = idf.term
        )
        SELECT doc_id, term, tfidf, rnk FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
            ) AS BIGINT) AS rnk
            FROM scored
        ) WHERE rnk <= 3
    """,
    tags=("curation", "tfidf", "extension"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms for every document."""
    docs = read_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs)


def pack_sequences(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    part_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic offset packing of docs into training sequences.

    Within each ``part_col`` partition, docs in ``id_col`` order are
    laid out by cumulative whitespace-token count; a doc belongs to
    sequence floor(start_offset / budget). Emits one row per packed
    sequence. Oversized docs (> budget tokens) simply span their own
    sequence — real pipelines chunk those first (see
    textstats.chunk_documents).

    Scale shape: ``part_col`` ("source") has O(1) cardinality, so a
    single cumulative window partitioned by it funnels a whole source
    through one task at data scale. The prefix sum is therefore STAGED
    (the ``watermark_late_accounting`` pattern): (1) per-(source,
    1M-doc-id-bucket) token sums — an ordinary grouped agg; (2)
    exclusive prefix sum ACROSS buckets per source — a window over
    |buckets| rows (~10⁶-fold smaller), joined back unhinted so AQE
    broadcasts it; (3) within-bucket cumulative window KEYED on
    (source, bucket) — partition-parallel — folded with the prior-
    bucket sum. Integer arithmetic throughout, so the staged cum is
    bit-identical to the single-window form the oracles state.
    """
    toks = docs.select(
        F.col(part_col),
        F.col(id_col),
        F.size(F.split(F.col(text_col), r"\s+")).cast("long").alias("n_tok"),
    )
    # integer DIV, not double division: no float detour, exact at any
    # id magnitude (doc ids are non-negative by contract, so DIV's
    # truncation and floor agree) — round-10 ADVICE
    base = toks.withColumn("__bkt", F.expr(f"{id_col} DIV 1000000"))
    bsum = base.groupBy(part_col, "__bkt").agg(F.sum("n_tok").alias("__bsum"))
    wb = (
        Window.partitionBy(part_col)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = bsum.select(
        part_col, "__bkt", F.sum("__bsum").over(wb).alias("__prior")
    )
    wi = (
        Window.partitionBy(part_col, "__bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    laid = (
        base.join(prior, [part_col, "__bkt"])
        .withColumn(
            "cum",
            F.sum("n_tok").over(wi) + F.coalesce(F.col("__prior"), F.lit(0)),
        )
        .withColumn("seq_id", F.floor((F.col("cum") - F.col("n_tok")) / budget))
    )
    return laid.groupBy(part_col, "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


@register(
    "pack_sequences",
    oracle=rf"""
        WITH toks AS (
            SELECT source, doc_id,
                   CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tok
            FROM documents
        ),
        laid AS (
            SELECT source, doc_id, n_tok,
                   sum(n_tok) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM toks
        )
        SELECT source,
               CAST(floor((cum - n_tok) / {PACK_BUDGET}) AS BIGINT) AS seq_id,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM laid
        GROUP BY source, CAST(floor((cum - n_tok) / {PACK_BUDGET}) AS BIGINT)
    """,
    tags=("curation", "packing", "extension"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack each source's documents into 256-token training sequences."""
    docs = read_table(spark, sf_dir, "documents")
    return pack_sequences(docs)


@register(
    "cross_lang_shingle_overlap",
    oracle=f"""
        WITH sh AS ({H.duck_shingle_cte('documents', 'lang', 'text', 5)}),
        sizes AS (SELECT lang, count(*) AS n FROM sh GROUP BY lang),
        inter AS (
            SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang < b.lang
            GROUP BY a.lang, b.lang
        )
        SELECT i.lang_a, i.lang_b, i.n_shared,
               ROUND(i.n_shared * 1.0 / (sa.n + sb.n - i.n_shared), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.lang_a = sa.lang
        JOIN sizes sb ON i.lang_b = sb.lang
    """,
    tags=("contamination", "dedup", "cross-lingual", "extension"),
)
def q_cross_lang_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language contamination scan: Jaccard overlap of the
    distinct word-5-gram shingle sets of every language pair. High
    overlap between languages flags mislabeled language IDs or
    copy-through content (boilerplate, code, untranslated quotes) —
    the corpus-level cousin of per-document near-dup.

    The pair space is |langs|² (single digits), so unlike document
    self-joins no hot-key cap is needed: the shingle equi-join's output
    is bounded by shared-shingle count, and per-language set sizes are
    broadcast back onto the tiny pair frame.
    """
    docs = read_table(spark, sf_dir, "documents")
    # ONE groupBy replaces [distinct + self-join by shingle]: each
    # shingle's distinct language set is collected in-row (collect_set
    # dedups inside the aggregate — no upstream distinct() exchange),
    # per-language set sizes fall out of exploding the same grouped
    # frame, and language pairs (≤ |langs|² of them) are generated
    # in-row from the sorted array.
    grouped = (
        shingle_set(docs, "lang", "text", k=5)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_set("lang")).alias("langs"))
        .persist()
    )
    sizes = (
        grouped.select(F.explode("langs").alias("lang"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )
    pair_structs = id_pairs(F.col("langs"), "lang_a", "lang_b")
    inter = (
        grouped.where(F.size("langs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy("p.lang_a", "p.lang_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_shared",
            F.round(
                F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")), 6
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Decontamination operators.
#
# Industry-standard 13-gram benchmark decontamination (the n-gram length
# the GPT-3/PaLM/Llama reports standardized on), extended past the
# boolean flag the round-3 ``benchmark_decontamination`` (8-gram) query
# gives: positioned hits with doc-level spans, merged contaminated-span
# coverage (what fraction of each doc you would actually cut), and the
# per-source removal-rate report a curation owner signs off on.
#
# Reference parity: the reference's regex-match pipeline
# (Grep.java:62-100) is the same scan→match→aggregate shape; these
# queries swap the regex for a broadcast benchmark n-gram set.
# ---------------------------------------------------------------------------


DECONTAM13_K = 13  # benchmark n-gram length (words) — the industry standard


def positioned_shingles(docs: DataFrame, k: int = DECONTAM13_K) -> DataFrame:
    """(doc_id, source, n_tokens, pos, g): every k-gram of the
    whitespace token stream with its 1-based start position. Built
    entirely from JVM array functions (split → transform/slice →
    posexplode) — one narrow pass, no Python, no shuffle."""
    w = docs.select(
        "doc_id",
        "source",
        F.split(F.col("text"), r"\s+").alias("w"),
    ).withColumn("n_tokens", F.size("w"))
    return (
        w.where(F.col("n_tokens") >= k)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(w) - {k - 1}),"
                    f" i -> array_join(slice(w, i, {k}), ' '))"
                )
            ).alias("pos0", "g"),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            (F.col("pos0") + 1).alias("pos"),
            "g",
        )
    )


def _duck_positioned_shingles(k: int = DECONTAM13_K) -> str:
    return f"""
        w AS (
            SELECT doc_id, source,
                   string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        sh AS (
            SELECT doc_id, source, len(w) AS n_tokens, i AS pos,
                   array_to_string(w[i:i+{k - 1}], ' ') AS g
            FROM w CROSS JOIN UNNEST(generate_series(1, len(w) - {k - 1})) AS t(i)
            WHERE len(w) >= {k}
        ),
        bench AS (
            SELECT DISTINCT g FROM sh WHERE source = '{BENCH_SOURCE}'
        ),
        hits AS (
            SELECT s.doc_id, s.n_tokens, s.pos, s.g
            FROM sh s JOIN bench b USING (g)
            WHERE s.source <> '{BENCH_SOURCE}'
        )
    """


def contamination_hits(docs: DataFrame, k: int = DECONTAM13_K) -> DataFrame:
    """Positioned benchmark k-gram hits in the training split:
    (doc_id, n_tokens, pos, g). The deduped benchmark gram set is
    broadcast (eval sets are small by definition — thousands of docs
    against a 100 TB train corpus); the train side never shuffles for
    the membership probe."""
    sh = positioned_shingles(docs, k)
    bench = (
        sh.where(F.col("source") == BENCH_SOURCE).select("g").distinct()
    )
    # UNHINTED join: production eval sets are fixed-size and AQE
    # broadcasts the gram set while it fits, but the stand-in benchmark
    # source (src0) scales with SF here, so a forced F.broadcast would
    # be an SF-proportional broadcast in this corpus — the class the
    # round-6 de-broadcast pass removed. Let runtime stats decide.
    return (
        sh.where(F.col("source") != BENCH_SOURCE)
        .join(bench, "g")
        .select("doc_id", "n_tokens", "pos", "g")
    )


@register(
    "decontam_13gram_hit_spans",
    oracle=f"""
        WITH {_duck_positioned_shingles()}
        SELECT doc_id,
               count(*) AS n_hits,
               CAST(count(DISTINCT g) AS BIGINT) AS n_distinct_grams,
               CAST(min(pos) AS BIGINT) AS first_hit_pos,
               CAST(max(pos) AS BIGINT) AS last_hit_pos
        FROM hits GROUP BY doc_id
    """,
    tags=("curation", "decontamination", "13-gram", "extension"),
)
def q_decontam_13gram_hit_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level 13-gram contamination spans: for every training doc
    sharing at least one 13-gram with the eval set (source src0 stands
    in), the hit count, distinct contaminated grams, and the first and
    last hit positions — the evidence record a decontamination audit
    stores, not just the boolean. One broadcast membership probe over
    a single positioned-shingle pass; the grouped span aggregate runs
    only on hit rows (a tiny fraction of the corpus by construction)."""
    docs = read_table(spark, sf_dir, "documents")
    return contamination_hits(docs).groupBy("doc_id").agg(
        F.count("*").alias("n_hits"),
        F.countDistinct("g").cast("long").alias("n_distinct_grams"),
        F.min("pos").cast("long").alias("first_hit_pos"),
        F.max("pos").cast("long").alias("last_hit_pos"),
    )


@register(
    "decontam_span_coverage",
    oracle=f"""
        WITH {_duck_positioned_shingles()},
        ordered AS (
            SELECT doc_id, n_tokens, pos,
                   CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                                 + {DECONTAM13_K}
                          OR lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                        THEN 1 ELSE 0 END AS is_start
            FROM (SELECT DISTINCT doc_id, n_tokens, pos FROM hits)
        ),
        islands AS (
            SELECT doc_id, n_tokens, pos,
                   sum(is_start) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM ordered
        ),
        merged AS (
            SELECT doc_id, n_tokens, island,
                   min(pos) AS s, max(pos) + {DECONTAM13_K - 1} AS e
            FROM islands GROUP BY doc_id, n_tokens, island
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(e - s + 1) AS BIGINT) AS covered_tokens,
               ROUND(sum(e - s + 1) / CAST(any_value(n_tokens) AS DOUBLE), 6)
                   AS coverage_frac
        FROM merged GROUP BY doc_id
    """,
    tags=("curation", "decontamination", "span-merge", "extension"),
)
def q_decontam_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged contaminated-span coverage per doc: each 13-gram hit
    covers tokens [pos, pos+12]; overlapping/adjacent hits merge into
    maximal spans (classic gaps-and-islands — with fixed-length
    intervals a new island starts exactly when pos > prev_pos + 13;
    pos = prev_pos + 13 is the exactly-adjacent case and merges),
    and the report is spans, covered tokens, and the covered fraction
    — the number that decides whether to cut spans or drop the doc.
    Window partitions are per contaminated doc (bounded by doc
    length); only hit rows ever reach the window. A plain-Python
    interval-merge recompute pins the island logic independently of
    the mirrored oracle."""
    docs = read_table(spark, sf_dir, "documents")
    hits = contamination_hits(docs).select("doc_id", "n_tokens", "pos").distinct()
    w = Window.partitionBy("doc_id").orderBy("pos")
    ordered = hits.select(
        "doc_id",
        "n_tokens",
        "pos",
        F.when(
            F.lag("pos").over(w).isNull()
            # > prev + K (not K−1): covers at pos = prev + K are exactly
            # adjacent — one contiguous contaminated run — and must
            # merge (round-9 review find, aligned with the r8 test's
            # sort-and-sweep reference which always merged adjacency)
            | (F.col("pos") > F.lag("pos").over(w) + DECONTAM13_K),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    wc = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    islands = ordered.select(
        "doc_id", "n_tokens", "pos", F.sum("is_start").over(wc).alias("island")
    )
    merged = islands.groupBy("doc_id", "n_tokens", "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + (DECONTAM13_K - 1)).alias("e"),
    )
    return merged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("covered_tokens"),
        F.round(
            F.sum(F.col("e") - F.col("s") + 1)
            / F.any_value("n_tokens").cast("double"),
            6,
        ).alias("coverage_frac"),
    )


@register(
    "decontam_removal_by_source",
    oracle=f"""
        WITH {_duck_positioned_shingles()},
        contaminated AS (SELECT DISTINCT doc_id FROM hits)
        SELECT d.source,
               count(*) AS n_docs,
               CAST(count(c.doc_id) AS BIGINT) AS n_contaminated,
               ROUND(count(c.doc_id) / CAST(count(*) AS DOUBLE), 6)
                   AS contaminated_frac,
               CAST(coalesce(sum(d.n_chars) FILTER (WHERE c.doc_id IS NOT NULL), 0)
                    AS BIGINT) AS chars_removed
        FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
        WHERE d.source <> '{BENCH_SOURCE}'
        GROUP BY d.source
    """,
    tags=("curation", "decontamination", "report", "extension"),
)
def q_decontam_removal_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source decontamination removal report: docs scanned, docs
    carrying any benchmark 13-gram, the removal fraction, and the
    payload chars a drop-the-doc policy would cut — the sign-off table
    for a decontamination run. Sources with zero hits still report
    (LEFT join from the corpus). The contaminated-id set is small by
    construction, so Catalyst's adaptive planner broadcasts it into
    the corpus-side join unhinted."""
    docs = read_table(spark, sf_dir, "documents")
    contaminated = contamination_hits(docs).select("doc_id").distinct()
    train = docs.where(F.col("source") != BENCH_SOURCE)
    return (
        train.join(
            contaminated.withColumn("__hit", F.lit(1)), "doc_id", "left"
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("__hit").cast("long").alias("n_contaminated"),
            F.round(
                F.count("__hit") / F.count("*").cast("double"), 6
            ).alias("contaminated_frac"),
            F.coalesce(
                F.sum(F.when(F.col("__hit").isNotNull(), F.col("n_chars"))), F.lit(0)
            )
            .cast("long")
            .alias("chars_removed"),
        )
    )
