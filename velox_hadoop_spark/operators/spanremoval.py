"""Cross-document repeated-span REMOVAL. [extension]

The exact-substring dedup step of a training-data pipeline (Lee et
al., "Deduplicating Training Data Makes Language Models Better"):
n-gram runs that appear in two or more distinct documents are excised
from every document carrying them, and the operator emits the KEPT
text — not just the coverage metric the detection-side query
(``quality.py::q_duplicate_ngram_coverage``) reports.

Semantics (deterministic, engine-portable):

  * token stream = whitespace split (the repo-wide convention);
  * a k-gram (k = ``SPANREM_K`` = 13, the decontamination standard) is
    REPEATED iff it occurs in ≥ 2 distinct documents;
  * every occurrence of a repeated k-gram covers tokens
    [pos, pos + k − 1]; overlapping/adjacent covers merge into maximal
    spans (gaps-and-islands, same island rule as
    ``contamination.q_decontam_span_coverage``: a new island starts
    exactly when pos > prev_pos + k — at pos = prev_pos + k the two
    covers are exactly adjacent, one contiguous removed run);
  * the document keeps the tokens outside every merged span, in
    original order.

Conservation invariant (pinned by tests and visible in the report
query): kept_tokens + removed_tokens = n_tokens for every document —
kept is counted from the surviving positions, removed from the merged
span lengths, so the identity holds only if the island merge is
correct (no double-counted overlap, no dropped cover).

Scale shape: the repeated-gram table is a partial+final distinct-doc
count keyed by gram (content-bounded, never broadcast — at 100 TB it
is itself TB-scale and flows through a distributed join); per-doc
windows are bounded by document length; the kept-text rebuild is one
higher-order array filter per affected doc (JVM-side, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.contamination import positioned_shingles
from velox_hadoop_spark.plans.registry import register

SPANREM_K = 13  # repeated-run n-gram length (tokens)
SPANREM_MIN_DOCS = 2  # gram is "repeated" iff present in >= 2 distinct docs


def repeated_gram_hits(docs: DataFrame, k: int = SPANREM_K) -> DataFrame:
    """(doc_id, n_tokens, pos) of every k-gram occurrence whose gram
    appears in ≥ SPANREM_MIN_DOCS distinct documents. A gram repeated
    only WITHIN one doc is not cross-doc duplication and is kept."""
    sh = positioned_shingles(docs, k)
    rep = (
        sh.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= SPANREM_MIN_DOCS)
        .select("g")
    )
    return (
        sh.join(rep, "g")
        .select("doc_id", "n_tokens", "pos")
        .distinct()
    )


def merged_removal_spans(docs: DataFrame, k: int = SPANREM_K) -> DataFrame:
    """Maximal merged token spans (doc_id, n_tokens, s, e) to excise.

    Fixed-width covers merge under the closed-form island rule: sorted
    by pos within a doc, a new island starts iff pos > prev + k (the
    adjacency case pos = prev + k merges). Both windows run per doc_id
    (bounded by doc length)."""
    hits = repeated_gram_hits(docs, k)
    w = Window.partitionBy("doc_id").orderBy("pos")
    ordered = hits.select(
        "doc_id",
        "n_tokens",
        "pos",
        F.when(
            F.lag("pos").over(w).isNull()
            # > prev + k (not k−1): covers [prev, prev+k−1] and
            # [prev+k, …] are exactly adjacent — one contiguous removed
            # run — and must share an island (round-9 review find; the
            # k−1 form split adjacent covers, contradicting the
            # maximal-merged-span contract and the Python reference)
            | (F.col("pos") > F.lag("pos").over(w) + k),
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
    return islands.groupBy("doc_id", "n_tokens", "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + (k - 1)).alias("e"),
    )


def _duck_spanremoval_ctes(k: int = SPANREM_K) -> str:
    """DuckDB CTE chain mirroring repeated_gram_hits + island merge,
    ending in ``merged(doc_id, n_tokens, island, s, e)`` plus the raw
    token stream ``tok(doc_id, i, tokn)`` for kept-text rebuilds."""
    return f"""
        w AS (
            SELECT doc_id, source,
                   string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        sh AS (
            SELECT doc_id, len(w) AS n_tokens, i AS pos,
                   array_to_string(w[i:i+{k - 1}], ' ') AS g
            FROM w CROSS JOIN UNNEST(generate_series(1, len(w) - {k - 1})) AS t(i)
            WHERE len(w) >= {k}
        ),
        rep AS (
            SELECT g FROM (
                SELECT g, count(DISTINCT doc_id) AS df FROM sh GROUP BY g
            ) WHERE df >= {SPANREM_MIN_DOCS}
        ),
        hits AS (
            SELECT DISTINCT s.doc_id, s.n_tokens, s.pos
            FROM sh s JOIN rep USING (g)
        ),
        ordered AS (
            SELECT doc_id, n_tokens, pos,
                   CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                                 + {k}
                          OR lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                        THEN 1 ELSE 0 END AS is_start
            FROM hits
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
                   min(pos) AS s, max(pos) + {k - 1} AS e
            FROM islands GROUP BY doc_id, n_tokens, island
        ),
        tok AS (
            SELECT doc_id, i, w[i] AS tokn
            FROM w CROSS JOIN UNNEST(generate_series(1, len(w))) AS t(i)
        )
    """


@register(
    "repeated_span_removal",
    oracle=f"""
        WITH {_duck_spanremoval_ctes()},
        stats AS (
            SELECT doc_id,
                   CAST(any_value(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(e - s + 1) AS BIGINT) AS removed_tokens
            FROM merged GROUP BY doc_id
        ),
        keptpos AS (
            SELECT t.doc_id, t.i, t.tokn
            FROM tok t
            JOIN stats st ON st.doc_id = t.doc_id
            WHERE NOT EXISTS (
                SELECT 1 FROM merged m
                WHERE m.doc_id = t.doc_id AND t.i BETWEEN m.s AND m.e
            )
        ),
        kept AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS kept_tokens,
                   string_agg(tokn, ' ' ORDER BY i) AS kept_text
            FROM keptpos GROUP BY doc_id
        )
        SELECT st.doc_id, st.n_tokens, st.n_spans, st.removed_tokens,
               CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
               coalesce(k.kept_text, '') AS kept_text
        FROM stats st LEFT JOIN kept k ON st.doc_id = k.doc_id
    """,
    tags=("curation", "dedup", "span-removal", "extension"),
)
def q_repeated_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span removal: every doc carrying a
    13-gram shared with ≥ 1 other document gets its repeated runs
    excised; the row is the surviving document — merged span count,
    removed/kept token counts (kept COUNTED from surviving positions,
    not derived, so kept + removed = n_tokens is a real invariant) and
    the kept text itself. Docs fully covered keep the empty string.

    Plan shape: one positioned-shingle pass, one distinct-doc-count
    keyed by gram (partial+final), one co-partitioned join back, per-
    doc island windows, then a single JVM higher-order filter rebuilds
    the kept token stream (no Python, no per-row UDF)."""
    docs = read_table(spark, sf_dir, "documents")
    merged = merged_removal_spans(docs)
    stats = merged.groupBy("doc_id").agg(
        F.any_value("n_tokens").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("removed_tokens"),
    )
    spans = merged.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("spans")
    )
    toks = docs.select("doc_id", F.split(F.col("text"), r"\s+").alias("w"))
    kept = (
        toks.join(spans, "doc_id")
        .select(
            "doc_id",
            F.expr(
                "filter(w, (x, i) -> NOT exists(spans,"
                " sp -> i + 1 >= sp.s AND i + 1 <= sp.e))"
            ).alias("kw"),
        )
        .select(
            "doc_id",
            F.size("kw").cast("long").alias("kept_tokens"),
            F.array_join("kw", " ").alias("kept_text"),
        )
    )
    return stats.join(kept, "doc_id").select(
        "doc_id", "n_tokens", "n_spans", "removed_tokens", "kept_tokens", "kept_text"
    )


@register(
    "repeated_span_removal_by_source",
    oracle=f"""
        WITH {_duck_spanremoval_ctes()},
        per_doc AS (
            SELECT doc_id, sum(e - s + 1) AS removed
            FROM merged GROUP BY doc_id
        ),
        alltok AS (
            SELECT doc_id, source, len(w) AS n_tokens FROM w
        )
        SELECT a.source,
               count(*) AS n_docs,
               CAST(count(p.doc_id) AS BIGINT) AS n_affected,
               CAST(sum(a.n_tokens) AS BIGINT) AS total_tokens,
               CAST(coalesce(sum(p.removed), 0) AS BIGINT) AS removed_tokens,
               CAST(sum(a.n_tokens) - coalesce(sum(p.removed), 0) AS BIGINT)
                   AS kept_tokens,
               ROUND(coalesce(sum(p.removed), 0)
                     / CAST(sum(a.n_tokens) AS DOUBLE), 6) AS removed_frac
        FROM alltok a LEFT JOIN per_doc p ON a.doc_id = p.doc_id
        GROUP BY a.source
    """,
    tags=("curation", "dedup", "span-removal", "report", "extension"),
)
def q_repeated_span_removal_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source repeated-span removal budget: docs scanned, docs
    carrying any cross-doc repeated 13-gram run, total/removed/kept
    token mass and the removed fraction — the sign-off table for an
    exact-substring dedup pass (every doc counts toward its source's
    token mass whether or not it was touched). Conservation is visible
    per row: kept_tokens + removed_tokens = total_tokens."""
    docs = read_table(spark, sf_dir, "documents")
    per_doc = merged_removal_spans(docs).groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).alias("removed")
    )
    alltok = docs.select(
        "doc_id", "source", F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens")
    )
    return (
        alltok.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("removed").cast("long").alias("n_affected"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.coalesce(F.sum("removed"), F.lit(0)).cast("long").alias("removed_tokens"),
            (F.sum("n_tokens") - F.coalesce(F.sum("removed"), F.lit(0)))
            .cast("long")
            .alias("kept_tokens"),
            F.round(
                F.coalesce(F.sum("removed"), F.lit(0))
                / F.sum("n_tokens").cast("double"),
                6,
            ).alias("removed_frac"),
        )
    )
