"""Deduplication operators for training-data pipelines. [extension]

No reference implementation exists (SURVEY §2 flags these `[extension]`);
the designs are the standard large-corpus dedup stack, built
shuffle-bounded on DataFrames:

  * exact dedup       — hash-groupBy on a content digest.
  * MinHash + LSH     — shingle → k seeded minhashes → band buckets →
                        candidate pairs via single-shuffle bucket grouping
                        (functions/pairs.py). Pairwise work happens
                        strictly AFTER LSH pruning, never n².
  * SimHash           — 64-bit signature by per-bit majority vote over
                        token hashes; near-pairs via 4×16-bit band
                        pigeonhole (hamming ≤ 3 ⇒ some band equal).
  * n-gram Jaccard    — exact similarity, computed only for candidate
                        pairs that share ≥ 1 shingle.

Scale notes: every stage is explode → hash-agg → equi-join; in-row
bucket pair generation is the only quadratic-risk step and its blowup
is bounded by the bucket-size cap (enforced as an array-size filter). All hashing is MD5-
based JVM expressions (functions/hashing.py) — codegen'd, no Python,
and bit-identical to the DuckDB oracles.

Cache lifetime contract: functions returning LAZY DataFrames persist
multi-branch intermediates (capped shingle/bucket tables) and cannot
unpersist them before the caller consumes the result — the CALLER owns
the cache (the bench harness clears it per query; compose-and-collect
callers should clearCache or unpersist when done). Operators that
materialize internally (connected_components, the PageRank/BFS loops)
release their own frames before returning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions import hashing as H
from velox_hadoop_spark.functions.lineage import release
from velox_hadoop_spark.functions.pairs import id_pairs, upper_triangle_pairs
from velox_hadoop_spark.plans.registry import register
from velox_hadoop_spark.session import parallelize_if_narrow_input


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Signature/shingle pipelines are per-row compute heavy; make sure
    # an under-partitioned scan doesn't serialize them (no-op at scale).
    return parallelize_if_narrow_input(
        read_table(spark, sf_dir, "documents")
    )

SHINGLE_K = 5          # words per shingle
MINHASH_SEEDS = 8      # signature length
LSH_BANDS = 4          # bands of r = MINHASH_SEEDS / LSH_BANDS rows
_R = MINHASH_SEEDS // LSH_BANDS

# Self-join fanout guard: a shingle (or LSH band key) shared by f docs
# produces O(f²) pair rows, and a stop-phrase shingle shared by 1M docs
# is ~10¹² rows from one key. Keys hotter than this carry no near-dup
# signal (they are corpus-wide boilerplate), so they are dropped BEFORE
# the self-join — the standard MinHash-LSH df-cap. AQE skew-split can
# spread a hot bucket across tasks but cannot shrink its quadratic
# output; only the cap can. Far above the max observed doc-frequency at
# the verification scales (4 at sf0.001, 3 at sf0.01), so test/driver
# results are unchanged.
MAX_KEY_DOC_FREQ = 512


def exact_dedup_groups(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Group identical content by digest; keeper = min id (deterministic)."""
    return (
        df.select(F.expr(H.spark_md5(content_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_set(df: DataFrame, id_col: str, text_col: str, k: int = SHINGLE_K) -> DataFrame:
    """Distinct word k-gram shingles per document — with ZERO shuffles.

    Tokenizes into a words-array projection first so the split runs
    once per row (inlined, it would re-split per shingle — O(words²)).
    ``array_distinct`` dedups INSIDE the row before the explode, which
    already makes every (id, shingle) pair unique — exploding a
    distinct array cannot emit duplicates — so no global ``.distinct()``
    exchange is needed at all: the whole operator is scan → project →
    generate inside one codegen stage."""
    words = df.select(F.col(id_col), F.split(F.col(text_col), r"\s+").alias("words"))
    return words.select(
        F.col(id_col),
        F.explode(
            F.expr(f"array_distinct({H.spark_shingles_from_words('words', k)})")
        ).alias("shingle"),
    )


def minhash_signature(shingles: DataFrame, id_col: str, n_seeds: int = MINHASH_SEEDS) -> DataFrame:
    """Per-doc MinHash signature: for each seed, min seeded-MD5 over shingles.

    Min over lexicographic MD5 strings is a valid min-wise hash family
    and is engine-portable (string min is unambiguous everywhere).
    """
    aggs = [
        F.min(F.expr(H.spark_md5(H.seeded("shingle", s)))).alias(f"mh{s}")
        for s in range(n_seeds)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def minhash_signature_inline(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_seeds: int = MINHASH_SEEDS,
    k: int = SHINGLE_K,
) -> DataFrame:
    """MinHash signature computed entirely in-row: ``array_min`` over a
    ``transform`` of the shingle array — the shuffle-free form.

    Equivalent to ``minhash_signature(shingle_set(...))`` (min is
    duplicate-insensitive, so skipping the distinct changes nothing)
    but compiles to scan → project → project with ZERO exchanges, where
    the exploded form shuffles (id, shingle) twice (distinct + groupBy).
    At 100 TB that is the difference between a map-only pass and two
    all-to-all shuffles of the shingle multiset (~10× the corpus size).
    Docs with fewer than ``k`` words have no shingles and are dropped,
    matching the exploded/oracle behavior.

    Hash-cost note: this computes ``n_seeds`` seeded MD5s per shingle
    because MD5 is the one hash both engines evaluate bit-identically
    (the verifiability contract). At 100 TB you'd switch to the
    classic one-base-hash + per-seed affine mix
    (``(a_s*h + b_s) mod p``, ~16× less hashing, same min-wise family)
    — measured here, the md5 tax is <0.1s per 5k docs, so the
    cross-engine-checkable form wins at every verification scale.
    """
    words = df.select(F.col(id_col), F.split(F.col(text_col), r"\s+").alias("words"))
    shing = words.where(F.size("words") >= k).select(
        F.col(id_col),
        F.expr(H.spark_shingles_from_words("words", k)).alias("shingles"),
    )
    return shing.select(
        F.col(id_col),
        *[
            F.expr(f"array_min(transform(shingles, x -> md5(concat('{s}|', x))))").alias(
                f"mh{s}"
            )
            for s in range(n_seeds)
        ],
    )


def lsh_bands(sig: DataFrame, id_col: str, bands: int = LSH_BANDS, r: int = _R) -> DataFrame:
    """Signature → (id, band_id, band_key) rows; equal band_key ⇒ candidate.

    One posexplode over an array of band keys — a single pass over the
    signatures. (A union of per-band projections re-evaluates the whole
    upstream signature pipeline once per band.)
    """
    keys = [
        F.concat_ws("|", *[F.col(f"mh{b * r + j}") for j in range(r)])
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.posexplode(F.array(*keys)).alias("band_id", "band_key")
    )


# Hot-key capping convention: every banded/blocked self-join in this
# module drops keys carried by more than the cap's row count, then
# groups the survivors into per-key arrays for in-row pair generation.
# Each oracle mirrors the cap with `HAVING count(*) <= cap`. The drop
# happens BEFORE the grouped collect_list (``drop_hot_keys`` below), so
# no aggregation buffer ever materializes a hot bucket's id array.


def drop_hot_keys(
    df: DataFrame, key_cols: list[str], cap: int, persist_input: bool = True
) -> DataFrame:
    """Remove every row whose key carries more than ``cap`` rows —
    BEFORE any grouped ``collect_list`` materializes per-key arrays.

    Count pre-pass + broadcast anti-join: the per-key counts
    partial-aggregate map-side (the extra shuffle moves at most one
    (key, count) row per distinct key per input partition — never the
    wide table), the over-cap key frame is bounded by |rows| / cap keys
    (< 0.2% of the row count at cap = 512) so it broadcasts, and the
    anti-join is a broadcast probe with no shuffle of ``df``. The
    round-5..10 shape instead filtered ``size(ids) <= cap`` AFTER the
    grouped collect — output identical, but the aggregation buffer held
    a hot key's FULL id array first: ~8 MB per key at f = 1e6 duplicate
    signatures (survivable), a task OOM at an adversarial f = 1e8
    universal-boilerplate signature in a raw 100 TB crawl. This form is
    memory-bounded at ANY key skew. Value-identical to the old shape:
    both drop exactly the keys with more than ``cap`` rows.

    Non-NULL-id precondition (round-12 advice): the pre-pass gates on
    ``count(*)`` per key, where the replaced post-collect filter gated
    on ``size(collect_list(id))`` — which SKIPS NULL ids. A key whose
    ``cap`` rows include a NULL id would flip from kept to dropped, so
    the value-identity claim holds only when the downstream-collected
    id column is non-null. True at every call site (doc_id / pid /
    supplier-key columns, all from non-null sources, and the oracles'
    ``HAVING count(*) <= cap`` mirrors count rows the same way this
    pre-pass does — NULL ids would diverge the ORACLE from the old
    shape too, so count(*) is the side that matches the gate).

    Cost and ``persist_input``: the guard has TWO readers of the keyed
    table (the count pre-pass and the downstream grouped collect), so
    by default the NULL-filtered input persists spillably
    (memory-and-disk) — one evaluation of the upstream band/shingle
    derivation instead of two (measured round 11 at sf0.1:
    dedup_threshold_sweep 9.7 s warm unpersisted vs 4.76 s persisted).
    The cache is session-scoped like every internal materialization in
    this module (the caller-owns-the-cache contract: bench and the
    driver gate clearCache per query); a caller that cannot afford a
    corpus-sized spillable materialization — or that holds several
    such caches at once — passes ``persist_input=False`` for the
    2x-recompute form, which is the same rows through the same plan
    minus the InMemoryRelation (each public pair generator forwards
    this as ``persist_guard_input``).
    """
    # NULL keys drop ENTIRELY (the round-11 review's catch, second
    # pass): the oracles mirror the cap as [cool = GROUP BY key HAVING
    # count <= cap] REJOINED with an equi-join — which never matches a
    # NULL key — so a NULL-keyed row (e.g. a NULL name's block in
    # fuzzy_pairs_blocked) participates in NO bucket on the oracle
    # side, hot or cool. Dropping them here mirrors that exactly AND
    # keeps the hot-bucket guarantee (a hot all-NULL block never
    # reaches the collect buffer), with a plain equi anti-join.
    from pyspark.storagelevel import StorageLevel

    cond = F.lit(True)
    for k in key_cols:
        cond = cond & F.col(k).isNotNull()
    keyed = df.where(cond)
    if persist_input:
        keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    hot = (
        keyed.groupBy(*key_cols)
        .agg(F.count("*").alias("_hk_cnt"))
        .where(F.col("_hk_cnt") > cap)
        .select(*key_cols)
    )
    return keyed.join(F.broadcast(hot), list(key_cols), "left_anti")


def lsh_candidate_pairs(
    bands_df: DataFrame,
    id_col: str,
    max_bucket: int = MAX_KEY_DOC_FREQ,
    extra_group_cols: tuple[str, ...] = (),
    persist_guard_input: bool = True,
) -> DataFrame:
    """Distinct id pairs (a < b) sharing at least one band bucket.

    Shape: ``drop_hot_keys`` (count pre-pass + broadcast anti-join)
    removes over-cap buckets BEFORE the grouped collect, then ONE
    groupBy shuffle builds per-bucket id arrays — the aggregation
    buffer is bounded by the cap at ANY key skew — followed by in-row
    pair generation (sorted array → upper-triangle combinations, pure
    JVM ``transform``/``flatten``) and a distinct over emitted pairs.
    The cap drops exactly the buckets with > cap members, so the
    oracle's ``HAVING count(*) <= cap`` mirror is unchanged. (The
    round-10 form enforced the cap with a size filter AFTER the
    collect — same output, but a hot bucket's full id array transited
    the aggregation buffer first; see ``drop_hot_keys``.)

    ``extra_group_cols`` scopes the bucketing (and the resulting pair
    sets) by additional columns — e.g. a band-layout config label, so a
    tuning sweep over several (bands × rows) layouts shares this exact
    pipeline instead of hand-rolling a near-copy (the hot-key-cap
    convention must have ONE home). The extra columns ride through to
    the output, still one shuffle + one distinct.
    """
    extras = list(extra_group_cols)
    keys = [*extras, "band_id", "band_key"]
    grouped = (
        drop_hot_keys(bands_df, keys, max_bucket, persist_guard_input)
        .groupBy(*keys)
        .agg(F.collect_list(id_col).alias("ids"))
        .where(F.size("ids") >= 2)
        .select(*extras, F.sort_array("ids").alias("ids"))
    )
    pair_structs = id_pairs(F.col("ids"), "id_a", "id_b")
    return (
        grouped.select(*extras, F.explode(pair_structs).alias("p"))
        .select(*extras, "p.id_a", "p.id_b")
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str,
    max_doc_freq: int = MAX_KEY_DOC_FREQ,
    persist_guard_input: bool = True,
) -> DataFrame:
    """n-gram Jaccard for every pair sharing ≥ 1 (non-boilerplate) shingle.

    |A∩B| from per-shingle pair generation; |A∪B| = |A|+|B|−|A∩B|.
    Shingles with doc-frequency > ``max_doc_freq`` are dropped by the
    bucket-size filter, bounding pair fanout to ≤ cap²/2 per shingle;
    sizes are computed over the SAME capped shingle universe, so the
    emitted value is a true Jaccard of the filtered sets (internally
    consistent, and identical to the uncapped value wherever no shingle
    exceeds the cap — which includes the sf0.001/sf0.01 verification
    corpora).

    Shape: ``drop_hot_keys`` removes over-cap shingles BEFORE the
    grouped collect (count pre-pass + broadcast anti-join — the
    aggregation buffer never holds a boilerplate shingle's full doc
    list), then ONE groupBy builds per-shingle id arrays. The per-doc
    sizes and the pair counts both derive from the capped grouped
    table, persisted because both branches read it.
    """
    grouped = (
        drop_hot_keys(shingles, ["shingle"], max_doc_freq, persist_guard_input)
        .groupBy("shingle")
        .agg(F.collect_list(id_col).alias("ids"))
        .select(F.sort_array("ids").alias("ids"))
        .persist()
    )
    sizes = grouped.select(F.explode("ids").alias(id_col)).groupBy(id_col).agg(
        F.count("*").alias("n")
    )
    pair_structs = id_pairs(F.col("ids"), "id_a", "id_b")
    inter = (
        grouped.where(F.size("ids") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def prefix_filtered_jaccard(
    shingles: DataFrame,
    id_col: str,
    threshold: float,
    max_prefix_bucket: int = MAX_KEY_DOC_FREQ,
) -> DataFrame:
    """All pairs with Jaccard ≥ ``threshold`` via PPJoin-style prefix
    filtering — subquadratic candidate generation, exact verification.

    Order each document's shingles globally by (doc-frequency asc,
    shingle asc) — rarest first. For Jaccard ≥ t, two sets of sizes
    (na, nb) must share ≥ 1 element among each one's first
    ``n − ceil(t·n) + 1`` ordered elements (the prefix), so the
    candidate self-join runs on PREFIX shingles only. Rare-first
    ordering makes prefix shingles low-frequency by construction
    whenever rare shingles EXIST. A length filter (nb ≥ ceil(t·na) in
    both directions) prunes impossible pairs inside the join
    condition. Candidates are then verified against the FULL shingle
    sets: a join keyed on (candidate doc id, shingle) touches
    |candidates| × set-size rows, never the corpus squared.

    Hot-prefix cap (module convention): on a duplicate-heavy corpus
    with NO rare shingles — a million copies of one page — every
    prefix token is hot and the prefix join itself degenerates
    quadratic, so a prefix shingle carried by more than
    ``max_prefix_bucket`` documents is dropped from CANDIDATE
    generation (deterministic truncation, mirrored in the registered
    oracle). Pairs whose every shared prefix shingle exceeds the cap
    are not emitted — the same contract as every banded join in this
    module; wherever no prefix bucket exceeds the cap (all test
    corpora) the output is identical to the lossless form, and the
    cap bounds per-key fanout at cap²/2 regardless of corpus shape.
    Verification joins and sizes still use the FULL shingle sets, so
    every emitted jaccard value is exact.

    This is the 100 TB-safe exact-value companion to the LSH
    (probabilistic) and df-capped (approximate-universe) paths.
    """
    from pyspark.storagelevel import StorageLevel


    shingles = shingles.select(F.col(id_col).alias("id"), "shingle").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dfreq = shingles.groupBy("shingle").agg(F.count("*").alias("dfv"))
    t = F.lit(threshold)
    ordered = (
        shingles.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(
            Window.partitionBy("id").orderBy(F.asc("dfv"), F.asc("shingle"))
        ))
        .withColumn("sz", F.count("*").over(Window.partitionBy("id")))
    )
    # persist: the capped-prefix pipeline reads this frame three times
    # (cool counts + both join sides) — one materialization of the
    # window chain instead of three
    prefix = (
        ordered.where(F.col("pos") <= F.col("sz") - F.ceil(t * F.col("sz")) + 1)
        .select("id", "shingle", "sz")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    coolp = (
        prefix.groupBy("shingle")
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") <= max_prefix_bucket)
        .select("shingle")
    )
    prefc = prefix.join(coolp, "shingle")
    pa = prefc.select(F.col("id").alias("id_a"), "shingle", F.col("sz").alias("sz_a"))
    pb = prefc.select(F.col("id").alias("id_b"), "shingle", F.col("sz").alias("sz_b"))
    cand = (
        pa.join(pb, "shingle")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_b") >= F.ceil(t * F.col("sz_a")))
            & (F.col("sz_a") >= F.ceil(t * F.col("sz_b")))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sh_a = shingles.select(F.col("id").alias("id_a"), "shingle")
    sh_b = shingles.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sizes = shingles.groupBy("id").agg(F.count("*").alias("n"))
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .where(jac >= t)
        .select("id_a", "id_b", "n_shared", F.round(jac, 6).alias("jaccard"))
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over distinct whitespace tokens.

    Majority vote per bit: Σ(±1) over token hashes; bit set iff Σ ≥ 0.
    Expressed as explode → 64-way conditional sums → bit-pack, all in
    codegen. (At extreme scale the 64 sums can be fused into a single
    array-typed aggregate; the row form keeps oracle parity trivial.)
    """
    tokens = (
        df.select(F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
        .select(F.col(id_col), F.expr(H.spark_md5_int60("tok")).alias("h"))
    )
    vote = [
        F.sum(
            F.when(F.expr(f"shiftright(h, {i}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(60)
    ]
    votes = tokens.groupBy(id_col).agg(*vote)
    packed = F.expr(
        " + ".join(
            f"(CASE WHEN s{i} >= 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) ELSE CAST(0 AS BIGINT) END)"
            for i in range(60)
        )
    )
    return votes.select(F.col(id_col), packed.alias("simhash"))


# ---------------------------------------------------------------------------
# Registered queries (documents table)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
        SELECT md5(text) AS content_hash,
               min(doc_id) AS keeper_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    tags=("dedup", "extension"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


_CONTAIN_BLOCK_CHARS = 40


@register(
    "contained_doc_pairs",
    oracle=f"""
        WITH blk AS (
            SELECT doc_id, text, substr(text, 1, {_CONTAIN_BLOCK_CHARS}) AS blk
            FROM documents
        ),
        coolblk AS (
            SELECT blk FROM blk GROUP BY blk
            HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        cblk AS (SELECT blk.* FROM blk JOIN coolblk USING (blk)),
        main AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   (length(a.text) = length(b.text)) AS is_exact
            FROM cblk a JOIN cblk b
              ON a.blk = b.blk AND a.doc_id < b.doc_id
            WHERE (length(a.text) <= length(b.text)
                   AND substr(b.text, 1, length(a.text)) = a.text)
               OR (length(b.text) < length(a.text)
                   AND substr(a.text, 1, length(b.text)) = b.text)
        ),
        shorts AS (
            SELECT doc_id, text, length(text) AS sl FROM documents
            WHERE length(text) < {_CONTAIN_BLOCK_CHARS}
        ),
        slens AS (SELECT DISTINCT sl FROM shorts),
        cont AS (
            SELECT c.doc_id AS c_id, l.sl AS c_sl,
                   substr(c.text, 1, l.sl) AS c_pref
            FROM documents c
            JOIN slens l ON length(c.text) > l.sl
        ),
        coolpref AS (
            SELECT c_sl, c_pref FROM cont GROUP BY c_sl, c_pref
            HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        contc AS (SELECT cont.* FROM cont JOIN coolpref USING (c_sl, c_pref)),
        short_pairs AS (
            SELECT least(s.doc_id, c.c_id) AS id_a,
                   greatest(s.doc_id, c.c_id) AS id_b,
                   FALSE AS is_exact
            FROM shorts s
            JOIN contc c
              ON c.c_sl = s.sl
             AND c.c_pref = s.text
             AND c.c_id <> s.doc_id
        )
        SELECT id_a, id_b, is_exact FROM main
        UNION ALL
        SELECT id_a, id_b, is_exact FROM short_pairs
    """,
    tags=("dedup", "containment", "extension"),
)
def q_contained_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-containment duplicates: pairs where the shorter document
    is a verbatim prefix of the longer (truncated copies — a real crawl
    artifact exact-hash dedup misses; exact dups surface too, flagged
    ``is_exact``).

    Blocking on the first 40 characters turns the quadratic
    containment scan into an equi-join: a prefix-contained pair whose
    contained side spans the block MUST agree on its first block, so
    candidates are only same-block pairs (boilerplate-heavy corpora
    would raise the block width or add a second block offset — the
    standard blocking tradeoff, same as the fuzzy-linkage operator).
    The startswith verification runs inside codegen on the joined
    rows; ordering id_a < id_b dedups the pair space. At 100 TB the
    block key is also the shuffle key, so no node ever sees two
    documents that cannot match.

    Hot-block cap (module convention): a block shared by more than
    ``MAX_KEY_DOC_FREQ`` documents — identical HTML headers make one
    block quadratic — is dropped on both join sides (deterministic
    truncation, mirrored by the oracle's ``HAVING count(*) <= cap``).
    The cool table is an aggregate over the (doc_id, blk) projection —
    no text movement in the count pre-pass — and its filter join is
    keyed on ``blk``, the SAME key the pair self-join shuffles on, so
    the exchange is shared rather than added (the cool side is
    distinct-block-sized, i.e. data-sized: it rides the join planner,
    not a broadcast assumption); surviving blocks bound the pair
    fanout at cap²/2 per key. The short branch gets the matching cap
    on its container-prefix key — a hot (length, prefix) container
    group is dropped the same way; the shorts side stays uncapped
    because its fanout against a capped container group is linear
    (≤ cap rows per short doc), never quadratic.

    Documents SHORTER than the block get a second branch (the main
    equi-join structurally cannot pair a 30-char doc with its 40-char
    container block): containers emit prefix keys only at the DISTINCT
    short-doc lengths (at most block_chars-1 values, broadcast), so
    the branch costs nothing on corpora without sub-block docs — this
    one has none — and stays an equi-join when they exist. The two
    branches are disjoint: the short branch requires a strictly longer
    container, and a same-length sub-block pair (an exact dup) shares
    its block, so the main branch already owns it.
    """
    docs = read_table(spark, sf_dir, "documents")
    blk = docs.select(
        "doc_id", "text", F.substring("text", 1, _CONTAIN_BLOCK_CHARS).alias("blk")
    )
    # hot-block cap: count pre-pass over the pruned (blk) projection;
    # the filter join shares the pair join's blk-keyed exchange
    coolblk = (
        blk.groupBy("blk")
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") <= MAX_KEY_DOC_FREQ)
        .select("blk")
    )
    cblk = blk.join(coolblk, "blk")
    a = cblk.select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"), "blk"
    )
    b = cblk.select(
        F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"), "blk"
    )
    main = (
        a.join(b, "blk")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                (
                    (F.length("text_a") <= F.length("text_b"))
                    & F.col("text_b").startswith(F.col("text_a"))
                )
                | (
                    (F.length("text_b") < F.length("text_a"))
                    & F.col("text_a").startswith(F.col("text_b"))
                )
            )
        )
        .select(
            "id_a",
            "id_b",
            (F.length("text_a") == F.length("text_b")).alias("is_exact"),
        )
    )
    shorts = docs.select(
        F.col("doc_id").alias("s_id"),
        F.col("text").alias("s_text"),
        F.length("text").alias("sl"),
    ).where(F.col("sl") < _CONTAIN_BLOCK_CHARS)
    slens = shorts.select(F.col("sl").alias("c_sl")).distinct()
    cont = docs.join(F.broadcast(slens), F.length("text") > F.col("c_sl")).select(
        F.col("doc_id").alias("c_id"),
        F.expr("substr(text, 1, c_sl)").alias("c_pref"),
        "c_sl",
    )
    coolpref = (
        cont.groupBy("c_sl", "c_pref")
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") <= MAX_KEY_DOC_FREQ)
        .select("c_sl", "c_pref")
    )
    contc = cont.join(coolpref, ["c_sl", "c_pref"])
    short_pairs = (
        shorts.join(
            contc,
            (F.col("sl") == F.col("c_sl")) & (F.col("c_pref") == F.col("s_text")),
        )
        .where(F.col("c_id") != F.col("s_id"))
        .select(
            F.least("s_id", "c_id").alias("id_a"),
            F.greatest("s_id", "c_id").alias("id_b"),
            F.lit(False).alias("is_exact"),
        )
    )
    return main.unionByName(short_pairs)


def _duck_minhash_cte() -> str:
    mh = ",\n               ".join(
        f"min(md5('{s}|' || shingle)) AS mh{s}" for s in range(MINHASH_SEEDS)
    )
    return f"""
        WITH sh AS ({H.duck_shingle_cte('documents', 'doc_id', 'text', SHINGLE_K)}),
        sig AS (
            SELECT doc_id,
               {mh}
            FROM sh GROUP BY doc_id
        )
    """


_BAND_KEYS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, mh{b * _R} || '|' || mh{b * _R + 1} AS band_key FROM sig"
    for b in range(LSH_BANDS)
)


def _duck_lsh_pairs(
    pairs: str = "cand", keys: str = _BAND_KEYS, sfx: str = "", cols: str = ""
) -> str:
    """Oracle twin of ``lsh_candidate_pairs`` over ``lsh_bands``: CTEs
    ``bands`` (``keys``: doc_id, band_id, band_key) → ``cool`` (buckets
    within the ``MAX_KEY_DOC_FREQ`` cap) → ``capped`` → ``pairs``
    (DISTINCT id_a < id_b, plus ``cols`` over the ``a``/``b`` sides).
    ``sfx`` suffixes bands/cool/capped so one query can hold several
    band layouts. Starts with a comma: it extends a WITH list."""
    return f""",
        bands{sfx} AS ({keys}),
        cool{sfx} AS (
            SELECT band_id, band_key FROM bands{sfx}
            GROUP BY band_id, band_key
            HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        capped{sfx} AS (
            SELECT bands{sfx}.* FROM bands{sfx} JOIN cool{sfx} USING (band_id, band_key)
        ),
        {pairs} AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b{cols}
            FROM capped{sfx} a JOIN capped{sfx} b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        )"""


def _duck_components(pairs: str = "pairs") -> str:
    """Oracle twin of ``connected_components``: CTEs ``edges`` →
    ``reach`` (recursive min-label reachability) → ``comp(node,
    cluster_id)`` over a ``pairs(id_a, id_b)`` CTE. Starts with a comma;
    the enclosing WITH must be RECURSIVE."""
    return f""",
        edges AS (
            SELECT id_a AS u, id_b AS v FROM {pairs}
            UNION SELECT id_b, id_a FROM {pairs}
        ),
        reach(node, lbl) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
        ),
        comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)"""


def _duck_cluster_cte() -> str:
    """The dedup_clusters LSH→CC chain as a RECURSIVE WITH list ending
    in ``comp(node, cluster_id)``."""
    return (
        _duck_minhash_cte().replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
        + _duck_lsh_pairs("pairs")
        + _duck_components()
    )


def _duck_cand_overlap() -> str:
    """Oracle twin of ``verify_candidate_jaccard``'s counts: CTEs
    ``cool_sh`` (shingles within the ``MAX_KEY_DOC_FREQ`` cap) → ``shc``
    → ``sizes(doc_id, n)`` → ``inter(id_a, id_b, n_shared)`` for the
    pairs of a ``cand(id_a, id_b)`` CTE, over ``_duck_minhash_cte``'s
    ``sh``. Starts with a comma: it extends a WITH list."""
    return f""",
        cool_sh AS (
            SELECT shingle FROM sh GROUP BY shingle
            HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        shc AS (SELECT sh.* FROM sh JOIN cool_sh USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS n_shared
            FROM cand c
            JOIN shc a ON a.doc_id = c.id_a
            JOIN shc b ON b.doc_id = c.id_b AND b.shingle = a.shingle
            GROUP BY c.id_a, c.id_b
        )"""


@register(
    "minhash_signatures",
    oracle=_duck_minhash_cte()
    + """
        SELECT doc_id, """
    + ", ".join(f"mh{s}" for s in range(MINHASH_SEEDS))
    + """
        FROM sig
    """,
    tags=("dedup", "minhash", "extension"),
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature (8 seeded min-wise hashes)."""
    docs = _docs_par(spark, sf_dir)
    return minhash_signature_inline(docs, "doc_id", "text")


@register(
    "lsh_candidate_pairs",
    oracle=_duck_minhash_cte()
    + _duck_lsh_pairs()
    + """
        SELECT id_a, id_b FROM cand
    """,
    tags=("dedup", "minhash", "lsh", "extension"),
)
def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (4 bands × 2 rows)."""
    docs = _docs_par(spark, sf_dir)
    sig = minhash_signature_inline(docs, "doc_id", "text")
    return lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
        WITH sh0 AS ({H.duck_shingle_cte('documents', 'doc_id', 'text', SHINGLE_K)}),
        cool AS (
            SELECT shingle FROM sh0
            GROUP BY shingle HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        sh AS (SELECT sh0.* FROM sh0 JOIN cool USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.id_a, i.id_b, i.n_shared,
               ROUND(i.n_shared / (sa.n + sb.n - i.n_shared), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.id_a = sa.doc_id
        JOIN sizes sb ON i.id_b = sb.doc_id
    """,
    tags=("dedup", "jaccard", "extension"),
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard for pairs sharing at least one shingle."""
    docs = _docs_par(spark, sf_dir)
    return jaccard_pairs(shingle_set(docs, "doc_id", "text"), "doc_id")


_DEDUP_RECALL_T = 0.5


@register(
    "lsh_dedup_recall_gate",
    oracle=_duck_minhash_cte()
    + _duck_lsh_pairs()
    + f""",
        cools AS (
            SELECT shingle FROM sh
            GROUP BY shingle HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        shc AS (SELECT sh.* FROM sh JOIN cools USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
            FROM shc a JOIN shc b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        truth AS (
            SELECT i.id_a, i.id_b
            FROM inter i
            JOIN sizes sa ON i.id_a = sa.doc_id
            JOIN sizes sb ON i.id_b = sb.doc_id
            WHERE ROUND(i.n_shared / (sa.n + sb.n - i.n_shared), 6)
                  >= {_DEDUP_RECALL_T}
        )
        SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
               CAST((SELECT count(*) FROM truth t
                     JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
                   AS BIGINT) AS n_caught,
               FLOOR((SELECT count(*) FROM truth t
                      JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
                     / CAST((SELECT count(*) FROM truth) AS DOUBLE)
                     * 1e6 + 0.5) / 1e6 AS recall
    """,
    tags=("dedup", "minhash", "lsh", "quality-gate", "extension"),
)
def q_lsh_dedup_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH candidate stage against the true
    Jaccard ≥ 0.5 pair set — the dedup counterpart of the ANN recall
    gates: before bands replace the exact shingle join in a pipeline,
    this measures what fraction of real near-dup pairs they surface
    (theory for 4 bands × 2 rows at J = 0.5: 1 − (1 − J²)⁴ ≈ 0.68;
    this gate reports the corpus's actual number).

    Truth comes from the capped exact-Jaccard join (the
    ``ngram_jaccard_pairs`` kernel — at audit scale you bound the truth
    side exactly as the production join is bounded, so recall is
    measured against the pair universe dedup actually operates on);
    the membership threshold rides the ROUND-ed exact integer ratio,
    identical IEEE math in both engines. The truth frame is persisted:
    the count and the semi-join both read it, and unpersisted the
    whole shingle self-join would execute twice. Recall is the ANN
    gates' integer-count ratio, floor-rounded at 6 dp."""
    docs = _docs_par(spark, sf_dir)
    truth = (
        jaccard_pairs(shingle_set(docs, "doc_id", "text"), "doc_id")
        .where(F.col("jaccard") >= _DEDUP_RECALL_T)
        .select("id_a", "id_b")
        .persist()
    )
    cand = lsh_candidate_pairs(
        lsh_bands(minhash_signature_inline(docs, "doc_id", "text"), "doc_id"),
        "doc_id",
    )
    caught = truth.join(cand, ["id_a", "id_b"], "left_semi")
    stats = truth.agg(F.count("*").alias("n_true"))
    # nc is one row (a global count); AQE broadcasts it unhinted
    nc = caught.agg(F.count("*").alias("n_caught"))
    return stats.crossJoin(nc).select(
        "n_true",
        "n_caught",
        # n_true = 0 (a clean corpus — the case the gate certifies) must
        # report NULL recall like the oracle, not DIVIDE_BY_ZERO: ANSI
        # mode raises on double division by zero where DuckDB yields NULL
        F.when(
            F.col("n_true") > 0,
            F.floor(
                F.col("n_caught") / F.col("n_true").cast("double") * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        ).alias("recall"),
    )


_PREFIX_JACCARD_T = 0.8


@register(
    "similarity_join_prefix",
    oracle=f"""
        WITH sh AS ({H.duck_shingle_cte('documents', 'doc_id', 'text', SHINGLE_K)}),
        dfreq AS (SELECT shingle, count(*) AS dfv FROM sh GROUP BY shingle),
        ordered AS (
            SELECT s.doc_id, s.shingle,
                   row_number() OVER (
                       PARTITION BY s.doc_id ORDER BY d.dfv ASC, s.shingle ASC
                   ) AS pos,
                   count(*) OVER (PARTITION BY s.doc_id) AS sz
            FROM sh s JOIN dfreq d USING (shingle)
        ),
        prefix AS (
            SELECT doc_id, shingle, sz FROM ordered
            WHERE pos <= sz - ceil(CAST({_PREFIX_JACCARD_T!r} AS DOUBLE) * sz) + 1
        ),
        coolp AS (
            SELECT shingle FROM prefix GROUP BY shingle
            HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        prefc AS (SELECT prefix.* FROM prefix JOIN coolp USING (shingle)),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM prefc a JOIN prefc b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             AND b.sz >= ceil(CAST({_PREFIX_JACCARD_T!r} AS DOUBLE) * a.sz)
             AND a.sz >= ceil(CAST({_PREFIX_JACCARD_T!r} AS DOUBLE) * b.sz)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, count(*) AS n_shared
            FROM cand c
            JOIN sh a ON a.doc_id = c.id_a
            JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
            GROUP BY c.id_a, c.id_b
        )
        SELECT i.id_a, i.id_b, i.n_shared,
               ROUND(i.n_shared / (sa.n + sb.n - i.n_shared), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.id_a = sa.doc_id
        JOIN sizes sb ON i.id_b = sb.doc_id
        WHERE i.n_shared / (sa.n + sb.n - i.n_shared) >= {_PREFIX_JACCARD_T}
    """,
    tags=("dedup", "jaccard", "prefix-filter", "extension"),
)
def q_similarity_join_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard ≥ 0.8 similarity join via capped prefix filtering.

    The oracle mirrors the whole candidate pipeline — rare-first
    prefixes, the hot-prefix bucket cap (deterministic-truncation
    contract, see ``prefix_filtered_jaccard``), the two-sided length
    filter — then verifies candidates against the full shingle sets;
    the independent brute-force check lives in the pytest suite
    (capped output == thresholded ``jaccard_pairs`` wherever no
    prefix bucket exceeds the cap, which includes every test corpus).
    Emitted jaccard values are always exact."""
    docs = _docs_par(spark, sf_dir)
    return prefix_filtered_jaccard(
        shingle_set(docs, "doc_id", "text"), "doc_id", _PREFIX_JACCARD_T
    )


def _duck_simhash_cte() -> str:
    """CTE chain ``toks, votes, sig(doc_id, simhash)`` for DuckDB."""
    h = H.duck_md5_int60("tok")
    votes = ",\n               ".join(
        f"sum(CASE WHEN ({h} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(60)
    )
    packed = " + ".join(
        f"(CASE WHEN s{i} >= 0 THEN CAST(1 AS BIGINT) << {i} ELSE 0 END)" for i in range(60)
    )
    return f"""
        toks AS (
            SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
            FROM documents
        ),
        votes AS (
            SELECT doc_id,
               {votes}
            FROM toks WHERE tok <> '' GROUP BY doc_id
        ),
        sig AS (SELECT doc_id, {packed} AS simhash FROM votes)
    """


def _duck_simhash_sql() -> str:
    return f"WITH {_duck_simhash_cte()} SELECT doc_id, simhash FROM sig"


@register(
    "simhash_docs",
    oracle=_duck_simhash_sql(),
    tags=("dedup", "simhash", "extension"),
)
def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 64-bit (60 used) SimHash signature."""
    docs = read_table(spark, sf_dir, "documents")
    # (plain read: simhash redistributes at the token-distinct shuffle, so
    # the heavy post-shuffle hashing is already parallel)
    return simhash64(docs, "doc_id", "text")


_BROADCAST_QUERY_BLOCK = 4096  # query rows sliced per task on the broadcast path


def _near_dup_broadcast(corpus: DataFrame, threshold: float) -> DataFrame:
    """Small-corpus near-dup kernel, ONE scan of the corpus total.

    The degenerate-filtered, L2-normalized matrix is collected and
    broadcast once (that collect IS the only corpus scan); pair
    generation is then driven by ``spark.range`` over fixed-size query
    blocks, each task slicing its query rows out of the broadcast
    matrix itself. The earlier shape streamed the corpus a second time
    as the query side — plus a third pass for its degenerate filter —
    so the same scan ran three times per query (the round-4 1.5×
    warm regression). Only ≥-threshold upper-triangle pairs are
    emitted — output is |near-dup pairs|, never n².
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from velox_hadoop_spark.functions.vectors import round_half_away
    from velox_hadoop_spark.operators.similarity import broadcast_normalized_corpus

    bc = broadcast_normalized_corpus(corpus)
    m = bc.value[1].shape[0]  # driver-side: .value is the local object
    n_chunks = -(-m // _BROADCAST_QUERY_BLOCK)  # 0 on an empty corpus

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_n = bc.value
        for pdf in batches:
            for chunk in pdf["id"].tolist():
                lo = chunk * _BROADCAST_QUERY_BLOCK
                hi = min(lo + _BROADCAST_QUERY_BLOCK, c_n.shape[0])
                cos = round_half_away(c_n[lo:hi] @ c_n.T, 6)
                qids = c_ids[lo:hi]
                # upper triangle only (a < b) + threshold
                keep = (cos >= threshold) & (qids[:, None] < c_ids[None, :])
                qi, ci = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "a_id": qids[qi],
                        "b_id": c_ids[ci],
                        "cos": cos[qi, ci],
                    }
                )

    out_schema = "a_id long, b_id long, cos double"
    return (
        corpus.sparkSession.range(n_chunks)
        .repartition(max(1, min(n_chunks, corpus.sparkSession.sparkContext.defaultParallelism)))
        .mapInPandas(pairs, out_schema)
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    driver_broadcast_rows: int | None = None,
    block_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cos) with a < b and
    round(cos, 6) ≥ threshold — EXACT at any scale.

    Physical strategy is size-guarded: corpora within the driver budget
    take the broadcast single-dgemm path; larger corpora route through
    the distributed block-matrix kernel
    (``similarity.cosine_pairs_blocked``), so no input can OOM the
    driver. The one count() is the plan-choice probe (parquet metadata,
    not data), taken before any collect happens; it counts the RAW
    corpus, which upper-bounds the degenerate-filtered row count the
    broadcast actually holds, so the guard errs only toward the
    distributed path and can never OOM the driver.
    """
    import math

    from velox_hadoop_spark.operators import similarity as S

    budget = S.DRIVER_BROADCAST_ROWS if driver_broadcast_rows is None else driver_broadcast_rows
    blk = S.BLOCK_ROWS if block_rows is None else block_rows
    n = corpus.count()
    if n <= budget:
        return _near_dup_broadcast(corpus, threshold)
    return S.cosine_pairs_blocked(
        corpus, threshold, n_blocks=max(2, math.ceil(n / blk))
    )


@register(
    "embedding_near_dup",
    oracle="""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                   WHERE embedding IS NOT NULL
                     AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[])) > 0),
        pairs AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   ROUND(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
            FROM e a JOIN e b ON a.vec_id < b.vec_id
        )
        SELECT a_id, b_id, cos FROM pairs WHERE cos >= 0.45
    """,
    tags=("dedup", "embedding", "ann", "extension"),
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate document pairs (cos ≥ 0.45)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.45)


def simhash_near_dup_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int = MAX_KEY_DOC_FREQ,
    persist_guard_input: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded pigeonhole.

    The 60-bit signature splits into ``n_bands`` 15-bit bands; two
    signatures within hamming ≤ n_bands − 1 MUST agree on at least one
    whole band (pigeonhole), so candidates come from per-bucket pair
    generation — never an all-pairs scan — then the exact popcount(xor)
    filter keeps pairs within ``max_hamming``. Same guarded
    bucket-grouping shape as ``lsh_candidate_pairs``: ``drop_hot_keys``
    removes over-cap buckets (an all-zero band is this scheme's
    stop-phrase) BEFORE one groupBy of the band table into
    (id, simhash) arrays, then in-row upper-triangle pairs — the
    aggregation buffer is bounded by the cap (≤ 512 structs) at any
    key skew."""
    width = 60 // n_bands
    bands = signatures.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.expr(f"(simhash >> {b * width}) & {(1 << width) - 1}")
                    for b in range(n_bands)
                ]
            )
        ).alias("band_id", "band_key"),
    )
    grouped = (
        drop_hot_keys(bands, ["band_id", "band_key"], max_bucket, persist_guard_input)
        .groupBy("band_id", "band_key")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("s"))
            ).alias("ms")
        )
        .where(F.size("ms") >= 2)
        .select(F.sort_array("ms").alias("ms"))  # struct sort: id first
    )
    pair_structs = upper_triangle_pairs(
        F.col("ms"),
        lambda x, y: F.struct(
            x["i"].alias("id_a"),
            y["i"].alias("id_b"),
            F.bit_count(x["s"].bitwiseXOR(y["s"])).cast("long").alias("hamming"),
        ),
    )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


@register(
    "simhash_near_dup_pairs",
    oracle=f"WITH {_duck_simhash_cte()}"
    + _duck_lsh_pairs(
        "pairs",
        keys="""
            SELECT doc_id, simhash, p.band_id,
                   (simhash >> (p.band_id * 15)) & 32767 AS band_key
            FROM sig
            CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band_id) p
        """,
        cols=", CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming",
    )
    + """
        SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
    """,
    tags=("dedup", "simhash", "extension"),
)
def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-pigeonhole SimHash near-dup pairs (hamming ≤ 3)."""
    docs = read_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(simhash64(docs, "doc_id", "text"), "doc_id")


def fuzzy_pairs_blocked(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_edit: int = 3,
    max_block: int = MAX_KEY_DOC_FREQ,
    persist_guard_input: bool = True,
) -> DataFrame:
    """Fuzzy record linkage: (a, b, edit distance ≤ max_edit) pairs,
    blocked so the quadratic levenshtein never runs all-pairs.

    Block key = last whitespace token of the name (the head noun in
    noun-phrase names); only within-block pairs are scored. Standard
    blocking-join shape: candidate volume is Σ block² bounded by the
    same hot-key cap as the LSH paths; at 100 TB you add more blocking
    keys (phonetic, prefix), never widen a block.

    Same guarded bucket-grouping shape as the LSH/SimHash paths:
    ``drop_hot_keys`` removes over-cap blocks BEFORE one groupBy of
    (id, name) into per-block arrays, then in-row upper-triangle pairs
    scored by levenshtein during generation — the aggregation buffer
    (which here holds NAME strings, not just ids) is bounded by the
    cap at any block skew."""
    keyed = df.select(
        F.col(id_col).alias("rec_id"),
        F.col(name_col).alias("name"),
        F.element_at(F.split(F.col(name_col), r"\s+"), -1).alias("blk"),
    )
    grouped = (
        drop_hot_keys(keyed, ["blk"], max_block, persist_guard_input)
        .groupBy("blk")
        .agg(
            F.collect_list(
                F.struct(F.col("rec_id").alias("i"), F.col("name").alias("nm"))
            ).alias("ms")
        )
        .where(F.size("ms") >= 2)
        .select(F.sort_array("ms").alias("ms"))  # struct sort: id first
    )
    pair_structs = upper_triangle_pairs(
        F.col("ms"),
        lambda x, y: F.struct(
            x["i"].alias("id_a"),
            y["i"].alias("id_b"),
            F.levenshtein(x["nm"], y["nm"]).cast("long").alias("edit_dist"),
        ),
    )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.edit_dist")
        .where(F.col("edit_dist") <= max_edit)
    )


@register(
    "fuzzy_part_name_pairs",
    oracle=f"""
        WITH keyed0 AS (
            SELECT p_partkey AS rec_id, p_name AS name,
                   list_extract(string_split_regex(p_name, '\\s+'), -1) AS blk
            FROM part
        ),
        cool AS (
            SELECT blk FROM keyed0
            GROUP BY blk HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        keyed AS (SELECT keyed0.* FROM keyed0 JOIN cool USING (blk))
        SELECT a.rec_id AS id_a, b.rec_id AS id_b,
               CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist
        FROM keyed a JOIN keyed b
          ON a.blk = b.blk AND a.rec_id < b.rec_id
        WHERE levenshtein(a.name, b.name) <= 2
    """,
    tags=("dedup", "fuzzy", "linkage", "extension"),
)
def q_fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical part names (edit distance ≤ 2) via blocked
    levenshtein — record-linkage / fuzzy-dedup surface."""
    part = read_table(spark, sf_dir, "part")
    return fuzzy_pairs_blocked(part, "p_partkey", "p_name", max_edit=2)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over an undirected pair list → (node, lbl)
    where lbl = min node id in the component.

    Two regimes, picked by pair count:

    * pairs ≤ ``driver_threshold``: union-find on the driver. After LSH
      pruning the candidate-pair set is a small fraction of the corpus
      (it is the whole point of the pruning), so even a 100 TB corpus
      usually lands here — a few million pairs is tens of MB, and the
      result returns as a DataFrame for the (distributed) join back to
      the corpus.
    * larger: iterative min-label propagation (the standard Spark CC
      shape) — each pass joins labels to neighbors and takes the min;
      label space only shrinks, so the fixed point is exact. One scalar
      per pass leaves the executors; lineage is cut every 3 passes.
      Pass count is bounded by graph diameter, and near-dup graphs are
      shallow (clusters are near-cliques).
    """
    from pyspark.storagelevel import StorageLevel

    pairs = pairs.select(F.col(id_a).alias("id_a"), F.col(id_b).alias("id_b")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    id_a, id_b = "id_a", "id_b"
    # Regime probe and data fetch in ONE action: pull at most
    # threshold+1 rows — if we got them all, union-find on the driver;
    # if the limit truncated, fall through to label propagation. (A
    # separate count() would re-run the pair pipeline a second time.)
    probe = pairs.limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for a, b in probe:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps the label deterministic
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(n, find(n)) for n in parent]
        pairs.unpersist()
        return pairs.sparkSession.createDataFrame(rows, "node long, lbl long")

    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("u").alias("node")).distinct().withColumn("lbl", F.col("node"))
    )
    prev_persisted = None
    changed = -1
    for i in range(max_iters):
        neigh = (
            edges.join(
                labels.select(F.col("node").alias("v"), F.col("lbl").alias("vlbl")), "v"
            )
            .groupBy("u")
            .agg(F.min("vlbl").alias("nlbl"))
            .select(F.col("u").alias("node"), "nlbl")
        )
        new_labels = labels.join(neigh, "node", "left").select(
            "node",
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
        )
        # Every few passes cut lineage with an eager checkpoint; in
        # between, persist — the changed-count action below materializes
        # the cache, so each pass runs exactly ONE job.
        if (i + 1) % 3 == 0:
            new_labels = new_labels.localCheckpoint(eager=False)
        else:
            new_labels = new_labels.persist(StorageLevel.MEMORY_AND_DISK)
        changed = (
            new_labels.join(labels.select("node", F.col("lbl").alias("old_lbl")), "node")
            .where(F.col("lbl") != F.col("old_lbl"))
            .limit(1)
            .count()
        )
        if prev_persisted is not None:
            # release, not unpersist: every 3rd frame is a localCheckpoint
            # whose RDD unpersist() alone leaks (functions/lineage.py)
            release(prev_persisted)
        prev_persisted = new_labels
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    pairs.unpersist()
    if changed != 0:
        # Exhausting the pass budget without a fixed point means labels
        # are still moving — silently returning them would emit WRONG
        # cluster ids (and wrong keeper flags downstream). Near-dup
        # graphs are shallow, so hitting this means something structural
        # (e.g. a chain-shaped adversarial graph); fail loudly.
        raise RuntimeError(
            f"connected_components: no fixed point after {max_iters} "
            "label-propagation passes; raise max_iters"
        )
    return labels


@register(
    "dedup_clusters",
    oracle=_duck_cluster_cte()
    + """
        SELECT d.doc_id,
               coalesce(c.cluster_id, d.doc_id) AS cluster_id,
               (coalesce(c.cluster_id, d.doc_id) = d.doc_id) AS is_keeper
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
    tags=("dedup", "lsh", "connected-components", "extension"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: MinHash-LSH candidate pairs → connected
    components → per-document cluster id + keeper flag (keeper = min
    doc_id of the cluster; singletons keep themselves).

    This is the full 100 TB dedup pipeline shape: shingle → signature →
    band join → CC label propagation, all shuffle-bounded; the oracle is
    the same fixed point via a recursive CTE."""
    docs = _docs_par(spark, sf_dir)
    sig = minhash_signature_inline(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    labels = connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(labels.select(F.col("node").alias("doc_id"), "lbl"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("lbl"), F.col("doc_id")).alias("cluster_id"),
            (F.coalesce(F.col("lbl"), F.col("doc_id")) == F.col("doc_id")).alias("is_keeper"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash similarity estimation over LSH candidates (the cheap verify
# step between banding and any exact-Jaccard re-check)
# ---------------------------------------------------------------------------

_MH_EQ = " + ".join(
    f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END" for s in range(MINHASH_SEEDS)
)


def minhash_estimate(cand: DataFrame, sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Signature-agreement estimate for a candidate frame: the fraction
    of equal MinHash components per (id_a, id_b) pair. The ONE home of
    the estimator expression, shared by ``q_minhash_jaccard_estimate``
    and the calibration audit (``minhash_estimate_error_audit``) so the
    estimator a gate thresholds on and the estimator the audit scores
    can never drift — and so the audit can feed BOTH sides from one
    materialized signature/candidate chain instead of re-deriving it.

    ``cand`` must expose its pair as ``id_a``/``id_b`` (the
    ``lsh_candidate_pairs`` schema); ``id_col`` names only the
    signature frame's id column."""
    sa = sig.select(
        F.col(id_col).alias("id_a"), *[F.col(f"mh{s}").alias(f"a{s}") for s in range(MINHASH_SEEDS)]
    )
    sb = sig.select(
        F.col(id_col).alias("id_b"), *[F.col(f"mh{s}").alias(f"b{s}") for s in range(MINHASH_SEEDS)]
    )
    n_eq = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(MINHASH_SEEDS)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            n_eq.cast("long").alias("n_equal"),
            F.round(n_eq / float(MINHASH_SEEDS), 6).alias("jaccard_est"),
        )
    )


_DUCK_MH_ESTIMATE = (
    _duck_minhash_cte()
    + _duck_lsh_pairs()
    + f"""
        SELECT c.id_a, c.id_b,
               CAST({_MH_EQ} AS BIGINT) AS n_equal,
               ROUND(({_MH_EQ}) / {MINHASH_SEEDS}.0, 6) AS jaccard_est
        FROM cand c
        JOIN sig sa ON c.id_a = sa.doc_id
        JOIN sig sb ON c.id_b = sb.doc_id
    """
)


@register(
    "minhash_jaccard_estimate",
    oracle=_DUCK_MH_ESTIMATE,
    tags=("dedup", "minhash", "lsh", "extension"),
)
def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-agreement Jaccard estimate for every LSH candidate
    pair: the fraction of equal MinHash components is an unbiased
    estimator of the true shingle Jaccard (min-wise hashing collision
    probability), so candidates can be thresholded WITHOUT touching
    document text again.

    This is the standard middle step of the production dedup funnel —
    band join proposes, signature agreement disposes — and it runs
    entirely on the 8-column signature table (two broadcast-able
    signature probes per pair; no shingle-level join, no text I/O).
    """
    from pyspark.storagelevel import StorageLevel

    docs = _docs_par(spark, sf_dir)
    sig = minhash_signature_inline(docs, "doc_id", "text").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cand = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    return minhash_estimate(cand, sig)


# ---------------------------------------------------------------------------
# Incremental (cross-snapshot) exact dedup — dedup a NEW ingest batch
# against an already-curated corpus
# ---------------------------------------------------------------------------


@register(
    "incremental_dedup_new_docs",
    oracle=f"""
        WITH tagged AS (
            SELECT doc_id, source, {H.duck_md5('text')} AS digest,
                   (doc_id % 10 = 0) AS is_new
            FROM documents
        ),
        corpus AS (SELECT DISTINCT digest FROM tagged WHERE NOT is_new),
        batch AS (SELECT * FROM tagged WHERE is_new)
        SELECT b.source,
               count(*) AS n_batch,
               count(CASE WHEN c.digest IS NULL THEN 1 END) AS n_admitted,
               count(CASE WHEN c.digest IS NOT NULL THEN 1 END) AS n_dropped
        FROM batch b LEFT JOIN corpus c ON b.digest = c.digest
        GROUP BY b.source
    """,
    tags=("dedup", "incremental", "extension"),
)
def q_incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a new batch (here ``doc_id % 10 = 0``
    stands in for today's crawl) is admitted only where its content
    digest does not already exist in the curated corpus — per-source
    admit/drop counts are the ingest report.

    At 100 TB the corpus side is a digest-only projection (32 bytes/doc
    — the column-pruned scan Catalyst extracts from the LEFT JOIN), the
    join is a digest equi-join, and the batch side is small by nature,
    so AQE broadcasts it; no full-text movement on either side.
    """
    docs = _docs_par(spark, sf_dir).select(
        "doc_id",
        "source",
        F.expr(H.spark_md5("text")).alias("digest"),
        (F.col("doc_id") % 10 == 0).alias("is_new"),
    )
    corpus = docs.where(~F.col("is_new")).select("digest").distinct()
    batch = docs.where(F.col("is_new"))
    hit = corpus.withColumn("dup", F.lit(True))
    return (
        batch.join(hit, "digest", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_batch"),
            F.count(F.when(F.col("dup").isNull(), 1)).alias("n_admitted"),
            F.count(F.when(F.col("dup").isNotNull(), 1)).alias("n_dropped"),
        )
    )


@register(
    "incremental_lsh_near_dup",
    oracle=_duck_minhash_cte()
    + _duck_lsh_pairs()
    + """,
        corpus AS (SELECT * FROM capped WHERE doc_id % 10 <> 0),
        batch AS (SELECT * FROM capped WHERE doc_id % 10 = 0)
        SELECT b.doc_id, count(DISTINCT c.doc_id) AS n_corpus_matches
        FROM batch b JOIN corpus c
          ON b.band_id = c.band_id AND b.band_key = c.band_key
        GROUP BY b.doc_id
    """,
    tags=("dedup", "minhash", "lsh", "incremental", "extension"),
)
def q_incremental_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup screening: the new ingest batch
    (``doc_id % 10 = 0``) probes the curated corpus through the LSH
    band index — a batch document sharing any band key with a corpus
    document is a near-dup candidate and reports how many corpus docs
    it collided with.

    The near-dup twin of ``incremental_dedup_new_docs``: in production
    the corpus band table is a PERSISTED index (band_key-partitioned
    parquet), so daily ingest joins its small batch against the index
    without recomputing corpus signatures — here the batch×corpus
    quadrant is carved out of ONE grouped pass over the band table
    (incremental cost is batch-sized, not corpus-sized).

    Hot-key cap (module convention): a band bucket holding more than
    ``MAX_KEY_DOC_FREQ`` signatures — f identical boilerplate docs emit
    ~f² join rows from one key — is dropped by ``drop_hot_keys`` (count
    pre-pass + broadcast anti-join) BEFORE the grouped collect, the
    same guard every other band join in this module applies, mirrored
    in the oracle's ``HAVING count(*) <= cap``. After the guard one
    groupBy shuffle builds per-bucket id arrays (buffer bounded by the
    cap at any skew), the batch/corpus split happens IN-ROW with JVM
    array ``filter``, and per-bucket fanout is bounded by cap² before
    the final per-doc distinct count.
    """
    docs = _docs_par(spark, sf_dir)
    sig = minhash_signature_inline(docs, "doc_id", "text")
    bands = lsh_bands(sig, "doc_id")
    grouped = (
        drop_hot_keys(bands, ["band_id", "band_key"], MAX_KEY_DOC_FREQ)
        .groupBy("band_id", "band_key")
        .agg(F.collect_list("doc_id").alias("ids"))
        .select(
            F.filter(F.col("ids"), lambda x: x % 10 == 0).alias("batch_ids"),
            F.filter(F.col("ids"), lambda x: x % 10 != 0).alias("corpus_ids"),
        )
        .where((F.size("batch_ids") >= 1) & (F.size("corpus_ids") >= 1))
    )
    return (
        grouped.select(
            F.explode("batch_ids").alias("doc_id"), F.col("corpus_ids")
        )
        .select("doc_id", F.explode("corpus_ids").alias("corpus_id"))
        .groupBy("doc_id")
        .agg(F.countDistinct("corpus_id").alias("n_corpus_matches"))
    )


# ---------------------------------------------------------------------------
# Two-stage verified near-dup: LSH candidates -> exact Jaccard verification
# ---------------------------------------------------------------------------

_VERIFY_JACC_T = 0.5


def verify_candidate_jaccard(
    cand: DataFrame,
    shingles: DataFrame,
    id_col: str,
    max_doc_freq: int = MAX_KEY_DOC_FREQ,
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for candidate pairs.

    The verification stage of the standard two-stage near-dup pipeline:
    the candidate table (id_a < id_b) attaches each side's capped
    shingle set through two equi-joins — join 1 on ``id_a`` fans each
    pair out to a's shingles, join 2 on ``(id_b, shingle)`` keeps
    exactly the shared ones — then one hash-agg counts |A∩B| and set
    sizes from the SAME capped universe give |A∪B|.

    Scale shape: unlike ``jaccard_pairs`` (which scores every
    co-shingled pair and is the brute-force oracle here), all work is
    proportional to |candidates| × avg-shingles, never to the corpus
    pair space — so verification cost tracks the LSH output no matter
    how big the corpus is. No driver collect; both joins are plain
    equi-joins Catalyst/AQE can pick a strategy for.
    """
    df_cap = (
        shingles.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_doc_freq)
        .select("shingle")
    )
    # persist: the capped shingle table feeds three branches (sizes and
    # both join sides); without a materialization point each branch
    # re-runs the shingle explode over the full corpus
    sh = shingles.join(df_cap, "shingle", "left_semi").persist()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    a_sh = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b_sh = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(a_sh, "id_a")
        .join(b_sh, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


_DUCK_VERIFIED_PAIRS = (
    _duck_minhash_cte()
    + _duck_lsh_pairs()
    + _duck_cand_overlap()
    + f"""
        SELECT i.id_a, i.id_b,
               ROUND(i.n_shared / (sa.n + sb.n - i.n_shared), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.id_a = sa.doc_id
        JOIN sizes sb ON i.id_b = sb.doc_id
        WHERE ROUND(i.n_shared / (sa.n + sb.n - i.n_shared), 6) >= {_VERIFY_JACC_T}
    """
)


@register(
    "near_dup_verified_pairs",
    oracle=_DUCK_VERIFIED_PAIRS,
    tags=("dedup", "minhash", "lsh", "verify", "extension"),
)
def q_near_dup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end two-stage near-dup: MinHash-LSH candidate generation
    followed by exact-Jaccard verification at τ = 0.5 — the production
    dedup recipe (candidates are probabilistic; the verify pass makes
    the emitted pairs exact, so downstream clustering never acts on an
    LSH false positive). Candidate cost is LSH-bounded, verify cost is
    candidate-bounded; nothing scales with the corpus pair space.

    Both sides threshold on the 6-dp ROUNDED jaccard (the oracle WHERE
    mirrors Spark's filter on ``verified.jaccard``), so a raw ratio in
    [τ−5e-7, τ) can never be kept by one engine and dropped by the
    other regardless of shingle-set size."""
    docs = _docs_par(spark, sf_dir)
    sig = minhash_signature_inline(docs, "doc_id", "text")
    cand = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    sh = shingle_set(docs, "doc_id", "text")
    verified = verify_candidate_jaccard(cand, sh, "doc_id")
    return verified.where(F.col("jaccard") >= _VERIFY_JACC_T)


@register(
    "normalization_dedup_stats",
    oracle="""
        WITH n AS (
            SELECT source,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS h
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT h) AS BIGINT) AS n_norm_distinct,
               CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_norm_dups
        FROM n GROUP BY source
    """,
    tags=("dedup", "normalization", "extension"),
)
def q_normalization_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text exact dedup audit per source: lowercase, strip
    non-alphanumerics, collapse runs of spaces, then hash — counting
    how many documents collapse together once cosmetic differences are
    removed. The normalization chain is pure codegen'd string
    expressions (identical semantics in the DuckDB oracle: after the
    first replace only [a-z0-9 ] remains, so the whitespace collapse
    only ever sees plain spaces — no regex-engine divergence).
    Shape: map-only projection + one hash-agg; at 100 TB the digest
    (16 bytes) is what shuffles, never the text."""
    docs = read_table(spark, sf_dir, "documents")
    h = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    return (
        docs.select("source", h.alias("h"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("h").alias("n_norm_distinct"),
            (F.count("*") - F.countDistinct("h")).alias("n_norm_dups"),
        )
    )


# ---------------------------------------------------------------------------
# Entity resolution end-to-end: fuzzy pairs -> components -> canonical record
# ---------------------------------------------------------------------------


@register(
    "entity_resolution_parts",
    oracle=f"""
        WITH RECURSIVE keyed0 AS (
            SELECT p_partkey AS rec_id, p_name AS name,
                   list_extract(string_split_regex(p_name, '\\s+'), -1) AS blk
            FROM part
        ),
        cool AS (
            SELECT blk FROM keyed0
            GROUP BY blk HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        keyed AS (SELECT keyed0.* FROM keyed0 JOIN cool USING (blk)),
        fpairs AS (
            SELECT a.rec_id AS id_a, b.rec_id AS id_b
            FROM keyed a JOIN keyed b
              ON a.blk = b.blk AND a.rec_id < b.rec_id
            WHERE levenshtein(a.name, b.name) <= 2
        )"""
    + _duck_components("fpairs")
    + """,
        members AS (
            SELECT c.cluster_id, p.p_partkey, p.p_name
            FROM comp c JOIN part p ON p.p_partkey = c.node
        ),
        canon AS (
            SELECT cluster_id, p_name AS canonical_name FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY cluster_id
                    ORDER BY length(p_name) DESC, p_name, p_partkey
                ) AS rn FROM members
            ) WHERE rn = 1
        )
        SELECT m.cluster_id,
               CAST(count(*) AS BIGINT) AS n_members,
               any_value(c.canonical_name) AS canonical_name
        FROM members m JOIN canon c USING (cluster_id)
        GROUP BY m.cluster_id
    """,
    tags=("dedup", "fuzzy", "entity-resolution", "connected-components", "extension"),
)
def q_entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end over part names: blocked fuzzy
    linkage (edit ≤ 2) → connected components → one canonical record
    per entity cluster with longest-name survivorship (ties by name,
    then id — fully deterministic, mirrored in the oracle's recursive
    CTE fixpoint).

    The production master-data shape: every stage reuses an existing
    scale-audited operator — single-shuffle blocked pair generation,
    regime-switched CC labeling, and a per-cluster window on the
    (cluster-count-bounded) member table. Only clustered records appear;
    unmatched records need no resolution."""

    part = read_table(spark, sf_dir, "part")
    pairs = fuzzy_pairs_blocked(part, "p_partkey", "p_name", max_edit=2)
    cc = connected_components(pairs)
    members = part.join(cc, part.p_partkey == cc.node, "inner").select(
        F.col("lbl").alias("cluster_id"), "p_partkey", "p_name"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.length("p_name").desc(), F.asc("p_name"), F.asc("p_partkey")
    )
    canon = (
        members.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster_id", F.col("p_name").alias("canonical_name"))
    )
    sizes = members.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return sizes.join(canon, "cluster_id").select(
        "cluster_id", "n_members", "canonical_name"
    )


# ---------------------------------------------------------------------------
# Dedup & sampling operators.
#
# Cross-snapshot dedup with a time-decayed keeper policy, field-wise
# survivorship (golden records), an intra-cluster Jaccard QA audit for
# the LSH→CC clusters, per-epoch without-replacement sample plans, and
# reproducible-TABLESAMPLE parity — the dedup/sampling surface a
# recurring-crawl training pipeline runs every refresh.
#
# Reference parity: the reference's dedup surface is the grouped-count
# shape (Wordcount.java aggregation semantics applied to content keys);
# everything here extends it with the keeper/QA policies a 100 TB
# curation run needs. All sampling keys off the cross-engine 60-bit MD5
# hash (functions/hashing.py) — reproducible, partitioning-independent,
# shuffle-free.
# ---------------------------------------------------------------------------


N_SNAPSHOTS = 4
SNAP_SEED = "snap"
# 0.85^age decay as exact integer per-mille multipliers so the keeper
# ordering is integer arithmetic in BOTH engines (a double weight would
# put a float in a membership predicate — the repo-banned class).
DECAY_MILLE = (1000, 850, 722, 614)

EPOCH_PCT = 30
EPOCH_SEEDS = ("ep0", "ep1", "ep2")
QUOTA_PER_SOURCE = 10
CLUSTER_AUDIT_CAP = 16  # members audited per cluster (smallest doc_ids)

def _decay_case_duck(age: str) -> str:
    arms = " ".join(
        f"WHEN {age} = {i} THEN {m}" for i, m in enumerate(DECAY_MILLE)
    )
    return f"CASE {arms} END"


def _decay_col(age: F.Column) -> F.Column:
    out = F.lit(None).cast("long")
    for i, m in enumerate(DECAY_MILLE):
        out = F.when(age == i, F.lit(m)).otherwise(out)
    return out


# ---------------------------------------------------------------------------
# Cross-snapshot dedup with time-decayed keeper policy
# ---------------------------------------------------------------------------


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) over ALL documents: the dedup_clusters
    LSH→CC assignment, singletons labeled by themselves."""
    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signature_inline(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    labels = connected_components(pairs)
    return docs.select("doc_id").join(
        labels.select(F.col("node").alias("doc_id"), "lbl"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce(F.col("lbl"), F.col("doc_id")).alias("cluster_id")
    )


# all-document cluster labels (singletons label themselves) on top of comp
_DUCK_ALL_LABELS = """,
        all_labels AS (
            SELECT d.doc_id, d.n_chars,
                   coalesce(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        )
    """


@register(
    "cross_snapshot_dedup_decay",
    oracle=_duck_cluster_cte()
    + _DUCK_ALL_LABELS
    + f""",
        weighted AS (
            SELECT doc_id, n_chars, cluster_id,
                   {H.duck_bucket("doc_id", SNAP_SEED, N_SNAPSHOTS)} AS snapshot
            FROM all_labels
        ),
        w2 AS (
            SELECT *, n_chars * {_decay_case_duck("snapshot")} AS weight
            FROM weighted
        ),
        keepers AS (
            SELECT cluster_id, doc_id AS keep_id FROM (
                SELECT cluster_id, doc_id, row_number() OVER (
                    PARTITION BY cluster_id ORDER BY weight DESC, doc_id
                ) AS rn FROM w2
            ) WHERE rn = 1
        )
        SELECT w.snapshot,
               count(*) AS n_docs,
               CAST(count(*) FILTER (WHERE w.doc_id = k.keep_id) AS BIGINT)
                   AS n_kept,
               CAST(count(*) FILTER (WHERE w.doc_id <> k.keep_id) AS BIGINT)
                   AS n_dropped,
               CAST(coalesce(sum(w.n_chars) FILTER (WHERE w.doc_id = k.keep_id), 0)
                    AS BIGINT) AS kept_chars
        FROM w2 w JOIN keepers k USING (cluster_id)
        GROUP BY w.snapshot
    """,
    tags=("dedup", "cross-snapshot", "keeper-policy", "extension"),
)
def q_cross_snapshot_dedup_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup with a time-decayed keeper: documents carry
    a crawl-snapshot age (hash-derived here, 0 = freshest), duplicate
    groups are the LSH→CC near-dup clusters (the groups a recurring
    crawl actually dedups across — exact-digest groups are the
    degenerate subset), and each group's keeper maximizes
    length × 0.85^age — prefer the longer copy, but discount stale
    crawls (tie → lowest doc_id). The decay is exact integer per-mille
    arithmetic in both engines, so keeper membership never rides a
    float. Output is the per-snapshot retention report. Keeper
    selection is a row_number over the cluster-keyed (weight DESC,
    doc_id ASC) window — rank 1 IS max_by(doc_id, (weight, -doc_id))
    because doc_id is unique, so the round-13 aggregate+join-back
    (which evaluated the weighted frame twice and shuffled it plus a
    keeper-table join) collapses to ONE |docs| exchange (guide §2.4,
    the snapshot_novelty_rate/LSS window trick)."""
    snap = F.expr(H.spark_bucket("doc_id", SNAP_SEED, N_SNAPSHOTS))
    weighted = (
        _cluster_labels(spark, sf_dir)
        .join(read_table(spark, sf_dir, "documents").select("doc_id", "n_chars"), "doc_id")
        .select("doc_id", "n_chars", "cluster_id", snap.alias("snapshot"))
        .withColumn("weight", F.col("n_chars") * _decay_col(F.col("snapshot")))
    )
    wk = Window.partitionBy("cluster_id").orderBy(
        F.desc("weight"), F.asc("doc_id")
    )
    kept = F.col("__rk") == 1
    return (
        weighted.withColumn("__rk", F.row_number().over(wk))
        .groupBy("snapshot")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(kept, 1)).cast("long").alias("n_kept"),
            F.count(F.when(~kept, 1)).cast("long").alias("n_dropped"),
            F.coalesce(F.sum(F.when(kept, F.col("n_chars"))), F.lit(0))
            .cast("long")
            .alias("kept_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Field-wise survivorship (golden records)
# ---------------------------------------------------------------------------


@register(
    "dedup_survivorship_golden",
    oracle=_duck_cluster_cte()
    + _DUCK_ALL_LABELS
    + """,
        norm AS (
            SELECT a.cluster_id, a.doc_id, d.n_chars, d.source, d.lang
            FROM all_labels a JOIN documents d ON a.doc_id = d.doc_id
        ),
        golden AS (
            SELECT cluster_id, doc_id AS golden_doc_id FROM (
                SELECT cluster_id, doc_id, row_number() OVER (
                    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
                ) AS rn FROM norm
            ) WHERE rn = 1
        ),
        grp AS (
            SELECT cluster_id,
                   count(*) AS n_merged,
                   CAST(min(doc_id) AS BIGINT) AS first_seen_id,
                   min(source) AS golden_source,
                   min(lang) AS golden_lang,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(max(n_chars) AS BIGINT) AS golden_chars
            FROM norm GROUP BY cluster_id HAVING count(*) >= 2
        )
        SELECT grp.cluster_id, n_merged, first_seen_id,
               CAST(golden_doc_id AS BIGINT) AS golden_doc_id,
               golden_source, golden_lang, total_chars, golden_chars
        FROM grp JOIN golden USING (cluster_id)
    """,
    tags=("dedup", "survivorship", "golden-record", "extension"),
)
def q_dedup_survivorship_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-wise survivorship over the LSH→CC near-dup clusters:
    instead of keeping ONE row, each multi-member cluster merges into
    a golden record — content from the longest copy (tie → lowest
    id), provenance fields by deterministic min, plus the
    merge-lineage counters (n_merged, first_seen_id, total payload).
    This is master-data-style entity consolidation applied to corpus
    dedup. One cluster-keyed shuffle after the shared LSH→CC
    assignment; every survivorship rule is a min/max/max_by inside a
    single aggregate — no window, no self-join, no per-group row
    fetch."""
    norm = _cluster_labels(spark, sf_dir).join(
        read_table(spark, sf_dir, "documents").select("doc_id", "n_chars", "source", "lang"),
        "doc_id",
    )
    return (
        norm.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_merged"),
            F.min("doc_id").cast("long").alias("first_seen_id"),
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
            )
            .cast("long")
            .alias("golden_doc_id"),
            F.min("source").alias("golden_source"),
            F.min("lang").alias("golden_lang"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.max("n_chars").cast("long").alias("golden_chars"),
        )
        .where(F.col("n_merged") >= 2)
    )


# ---------------------------------------------------------------------------
# Intra-cluster Jaccard QA audit for the LSH→CC dedup clusters
# ---------------------------------------------------------------------------


@register(
    "intra_cluster_jaccard_audit",
    oracle=_duck_cluster_cte()
    + f""",
        members AS (
            SELECT cluster_id, node AS doc_id FROM (
                SELECT cluster_id, node, row_number() OVER (
                    PARTITION BY cluster_id ORDER BY node
                ) AS rn FROM comp
            ) WHERE rn <= {CLUSTER_AUDIT_CAP}
        ),
        msize AS (SELECT cluster_id, count(*) AS n_members FROM comp GROUP BY 1),
        mpairs AS (
            SELECT a.cluster_id, a.doc_id AS id_a, b.doc_id AS id_b
            FROM members a JOIN members b
              ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id
        ),
        cools AS (
            SELECT shingle FROM sh
            GROUP BY shingle HAVING count(*) <= {MAX_KEY_DOC_FREQ}
        ),
        shc AS (SELECT sh.* FROM sh JOIN cools USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
            FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pj AS (
            SELECT p.cluster_id,
                   coalesce(i.n_shared, 0)
                       / CAST(sa.n + sb.n - coalesce(i.n_shared, 0) AS DOUBLE)
                       AS jaccard
            FROM mpairs p
            LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
            JOIN sizes sa ON p.id_a = sa.doc_id
            JOIN sizes sb ON p.id_b = sb.doc_id
        )
        SELECT pj.cluster_id,
               CAST(any_value(m.n_members) AS BIGINT) AS n_members,
               count(*) AS n_pairs,
               ROUND(avg(jaccard), 6) AS avg_jaccard,
               ROUND(min(jaccard), 6) AS min_jaccard
        FROM pj JOIN msize m ON pj.cluster_id = m.cluster_id
        GROUP BY pj.cluster_id
    """,
    tags=("dedup", "cluster-qa", "jaccard", "extension"),
)
def q_intra_cluster_jaccard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QA audit of the LSH→CC dedup clusters: exact 5-gram Jaccard
    over every within-cluster member pair — including pairs that share
    NO shingle, which is exactly how transitive over-merging (chaining)
    shows up: a healthy cluster's min_jaccard stays near the LSH
    threshold, a chained cluster's collapses toward 0. Members are
    capped at the {CLUSTER_AUDIT_CAP} lowest doc_ids per cluster
    (mirrored in the oracle) so the audit's pair count is
    cap²-bounded per cluster regardless of cluster size; the exact
    intersection join runs only over the clustered docs' shingles
    (semi-join pruned), with the same hot-shingle frequency cap the
    recall gate uses. A plain-Python set recompute pins the Jaccard
    values independently of the mirrored oracle.

    Shape (round 14, guide §2.4): the frequency cap applies as the
    shared ``drop_hot_keys`` broadcast anti-join (no corpus-shingle
    shuffle to meet the cool-shingle table — same survivors: shingles
    are non-null and each is in exactly one class), and the pairwise
    intersection groups the member shingles into per-shingle sorted id
    arrays with in-row pair generation (the ``jaccard_pairs`` shape:
    ONE exchange on shingle + the pair aggregate) instead of a
    row-level self-join that shuffled the member-shingle frame twice
    and joined. Group width is cap-bounded by the anti-join, so the
    collect buffer is safe at any skew."""

    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signature_inline(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
    msize = labels.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    rn = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy("doc_id")
    )
    members = (
        labels.withColumn("__rn", rn)
        .where(F.col("__rn") <= CLUSTER_AUDIT_CAP)
        .drop("__rn")
    )
    a = members.select(F.col("cluster_id"), F.col("doc_id").alias("id_a"))
    b = members.select(F.col("cluster_id"), F.col("doc_id").alias("id_b"))
    mpairs = a.join(b, "cluster_id").where(F.col("id_a") < F.col("id_b"))

    # persist: the corpus shingle explode feeds BOTH the frequency-cap
    # count pre-pass and the capped member-shingle frame — unpersisted
    # it would run the full-corpus explode twice
    sh0 = shingle_set(docs, "doc_id", "text", SHINGLE_K).persist()
    member_ids = members.select(F.col("doc_id")).distinct()
    # hot-shingle cap as the shared broadcast anti-join (sh0 already
    # persisted, so the guard's own persist is skipped), then prune to
    # audited members before anything is grouped or shuffled
    shc = drop_hot_keys(
        sh0, ["shingle"], MAX_KEY_DOC_FREQ, persist_input=False
    ).join(member_ids, "doc_id", "semi")
    sizes = shc.groupBy("doc_id").agg(F.count("*").alias("n"))
    grouped = (
        shc.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") >= 2)
        .select(F.sort_array("ids").alias("ids"))
    )
    inter = (
        grouped.select(F.explode(id_pairs(F.col("ids"), "id_a", "id_b")).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    pj = (
        mpairs.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "cluster_id",
            (
                F.coalesce(F.col("n_shared"), F.lit(0))
                / (
                    F.col("na") + F.col("nb") - F.coalesce(F.col("n_shared"), F.lit(0))
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return (
        pj.join(msize, "cluster_id")
        .groupBy("cluster_id")
        .agg(
            F.any_value("n_members").cast("long").alias("n_members"),
            F.count("*").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Per-epoch without-replacement sample plans
# ---------------------------------------------------------------------------


@register(
    "epoch_sample_overlap",
    oracle=f"""
        WITH tagged AS (
            SELECT doc_id,
                   CASE WHEN {H.duck_bucket("doc_id", EPOCH_SEEDS[0])} < {EPOCH_PCT}
                        THEN 1 ELSE 0 END AS e0,
                   CASE WHEN {H.duck_bucket("doc_id", EPOCH_SEEDS[1])} < {EPOCH_PCT}
                        THEN 1 ELSE 0 END AS e1,
                   CASE WHEN {H.duck_bucket("doc_id", EPOCH_SEEDS[2])} < {EPOCH_PCT}
                        THEN 1 ELSE 0 END AS e2
            FROM documents
        )
        SELECT CAST(sum(e0) AS BIGINT) AS n_epoch0,
               CAST(sum(e1) AS BIGINT) AS n_epoch1,
               CAST(sum(e2) AS BIGINT) AS n_epoch2,
               CAST(sum(e0 * e1) AS BIGINT) AS n_overlap_01,
               CAST(sum(e1 * e2) AS BIGINT) AS n_overlap_12,
               CAST(sum(e0 * e2) AS BIGINT) AS n_overlap_02,
               CAST(sum(CASE WHEN e0 + e1 + e2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_never_sampled
        FROM tagged
    """,
    tags=("sampling", "epoch-plan", "extension"),
)
def q_epoch_sample_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch sample plan audit: three training epochs each draw a
    deterministic ~{EPOCH_PCT}% without-replacement sample (within an
    epoch a doc appears at most once by construction — membership is a
    pure hash predicate), each epoch re-seeded so draws are
    independent ACROSS epochs. The report is per-epoch sizes, pairwise
    overlaps, and the never-sampled count — what you check before
    believing a multi-epoch data schedule isn't starving part of the
    corpus. ONE scan, zero shuffles: all seven counters are
    conditional sums over three codegen'd hash predicates (the
    membership columns a planner cannot fuse across three separate
    sample() calls)."""
    e = [
        (F.expr(H.spark_bucket("doc_id", s)) < EPOCH_PCT).cast("int")
        for s in EPOCH_SEEDS
    ]
    tagged = read_table(spark, sf_dir, "documents").select(
        e[0].alias("e0"), e[1].alias("e1"), e[2].alias("e2")
    )
    return tagged.agg(
        F.sum("e0").cast("long").alias("n_epoch0"),
        F.sum("e1").cast("long").alias("n_epoch1"),
        F.sum("e2").cast("long").alias("n_epoch2"),
        F.sum(F.col("e0") * F.col("e1")).cast("long").alias("n_overlap_01"),
        F.sum(F.col("e1") * F.col("e2")).cast("long").alias("n_overlap_12"),
        F.sum(F.col("e0") * F.col("e2")).cast("long").alias("n_overlap_02"),
        F.sum(
            F.when(F.col("e0") + F.col("e1") + F.col("e2") == 0, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_never_sampled"),
    )


@register(
    "epoch_quota_exact_per_source",
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, source, epoch, row_number() OVER (
                       PARTITION BY epoch, source ORDER BY h, doc_id
                   ) AS rn
            FROM (
                SELECT doc_id, source, 0 AS epoch,
                       {H.duck_md5_int60(H.seeded("doc_id", EPOCH_SEEDS[0]))} AS h
                FROM documents
                UNION ALL
                SELECT doc_id, source, 1 AS epoch,
                       {H.duck_md5_int60(H.seeded("doc_id", EPOCH_SEEDS[1]))} AS h
                FROM documents
            )
        )
        SELECT epoch, source,
               count(*) AS n_sampled,
               CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM ranked WHERE rn <= {QUOTA_PER_SOURCE}
        GROUP BY epoch, source
    """,
    tags=("sampling", "epoch-plan", "quota", "extension"),
)
def q_epoch_quota_exact_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-source quotas per epoch (vs the Bernoulli plan above):
    each epoch takes exactly {QUOTA_PER_SOURCE} docs per source — the
    {QUOTA_PER_SOURCE} smallest re-seeded hashes, so the draw is a
    fresh uniform permutation every epoch and reproducible on any
    engine/partitioning. The id_checksum column pins MEMBERSHIP (which
    docs), not just the count. Scale shape: one shuffle per epoch on
    the source key with a rank window per (epoch, source) — the
    standard bounded-cap balancing pass; epochs are a unioned literal
    dimension, not separate jobs."""
    docs = read_table(spark, sf_dir, "documents")
    per_epoch = []
    for i, seed in enumerate(EPOCH_SEEDS[:2]):
        h = F.expr(H.spark_md5_int60(H.seeded("doc_id", seed)))
        rn = F.row_number().over(
            Window.partitionBy("source").orderBy(h, F.col("doc_id"))
        )
        per_epoch.append(
            docs.select("doc_id", "source")
            .withColumn("epoch", F.lit(i))
            .withColumn("__rn", rn)
            .where(F.col("__rn") <= QUOTA_PER_SOURCE)
        )
    sampled = per_epoch[0].unionByName(per_epoch[1])
    return sampled.groupBy("epoch", "source").agg(
        F.count("*").alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


@register(
    "tablesample_parity_report",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, n_chars,
                   {H.duck_bucket("doc_id", "split42")} AS bkt
            FROM documents
        ),
        agg AS (
            SELECT count(*) AS total,
                   count(*) FILTER (WHERE bkt < 10) AS n10,
                   count(*) FILTER (WHERE bkt < 20) AS n20,
                   count(*) FILTER (WHERE bkt < 50) AS n50,
                   coalesce(sum(n_chars) FILTER (WHERE bkt < 10), 0) AS c10,
                   coalesce(sum(n_chars) FILTER (WHERE bkt < 20), 0) AS c20,
                   coalesce(sum(n_chars) FILTER (WHERE bkt < 50), 0) AS c50
            FROM b
        )
        SELECT 10 AS pct, CAST(n10 AS BIGINT) AS n_docs,
               CAST(c10 AS BIGINT) AS sum_chars,
               ROUND(n10 / CAST(total AS DOUBLE), 6) AS observed_frac
        FROM agg
        UNION ALL
        SELECT 20, CAST(n20 AS BIGINT), CAST(c20 AS BIGINT),
               ROUND(n20 / CAST(total AS DOUBLE), 6) FROM agg
        UNION ALL
        SELECT 50, CAST(n50 AS BIGINT), CAST(c50 AS BIGINT),
               ROUND(n50 / CAST(total AS DOUBLE), 6) FROM agg
    """,
    tags=("sampling", "tablesample", "parity", "extension"),
)
def q_tablesample_parity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible-TABLESAMPLE parity report: the hash-bucket sampler
    evaluated at 10/20/50%, with counts, payload and the observed
    fraction — the cross-engine replacement for TABLESAMPLE/df.sample
    (whose per-partition RNG is neither engine-portable nor
    partitioning-stable). Because membership is bucket < pct under ONE
    shared bucket column, the three samples are NESTED by construction
    (10% ⊆ 20% ⊆ 50%) — pinned by a conservation test — which gives
    consistent drill-down across sample sizes. One scan, one 1-row
    aggregate unpivoted to the 3-row report; no shuffle of the corpus."""
    b = read_table(spark, sf_dir, "documents").select(
        "n_chars", F.expr(H.spark_bucket("doc_id", "split42")).alias("bkt")
    )
    agg = b.agg(
        F.count("*").alias("total"),
        *[
            F.count(F.when(F.col("bkt") < p, 1)).alias(f"n{p}")
            for p in (10, 20, 50)
        ],
        *[
            F.coalesce(F.sum(F.when(F.col("bkt") < p, F.col("n_chars"))), F.lit(0)).alias(
                f"c{p}"
            )
            for p in (10, 20, 50)
        ],
    )
    rows = agg.select(
        F.expr(
            # try_divide: an EMPTY corpus has total = 0 — DuckDB's x/0
            # yields NULL where ANSI Spark raises (the empty-sweep bug
            # class); try_divide restores the NULL parity
            "stack(3, "
            "10, n10, c10, round(try_divide(n10, cast(total AS DOUBLE)), 6), "
            "20, n20, c20, round(try_divide(n20, cast(total AS DOUBLE)), 6), "
            "50, n50, c50, round(try_divide(n50, cast(total AS DOUBLE)), 6)"
            ") AS (pct, n_docs, sum_chars, observed_frac)"
        )
    )
    return rows.select(
        F.col("pct").cast("int").alias("pct"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("sum_chars").cast("long").alias("sum_chars"),
        "observed_frac",
    )


@register(
    "dedup_cluster_source_span",
    oracle=_duck_cluster_cte()
    + """,
        members AS (
            SELECT c.cluster_id, c.node AS doc_id, d.source, d.lang
            FROM comp c JOIN documents d ON c.node = d.doc_id
        ),
        sized AS (
            SELECT cluster_id,
                   count(*) AS n_members,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
            FROM members GROUP BY cluster_id HAVING count(*) >= 2
        )
        SELECT cluster_id, n_members, n_sources, n_langs,
               (n_sources > 1) AS is_cross_source
        FROM sized
    """,
    tags=("dedup", "cluster-qa", "provenance", "extension"),
)
def q_dedup_cluster_source_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance span of each near-dup cluster: how many distinct
    sources and languages its members straddle. Cross-SOURCE clusters
    are the policy-relevant ones — a within-source dup is a crawler
    artifact you just drop, a cross-source dup changes licensing /
    attribution / keeper decisions (and cross-source rates feed the
    mirror-site detection a crawl pipeline runs). One aggregate over
    the shared LSH→CC labels joined to the provenance columns."""
    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signature_inline(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
    members = labels.join(docs.select("doc_id", "source", "lang"), "doc_id")
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .where(F.col("n_members") >= 2)
        .withColumn("is_cross_source", F.col("n_sources") > 1)
    )


SWEEP_THRESHOLDS = (0.3, 0.5, 0.7, 0.9)


def _threshold_sweep_oracle() -> str:
    arms_pairs = " UNION ALL ".join(
        f"SELECT CAST({t} AS DOUBLE) AS threshold, "
        f"CAST(count(*) FILTER (WHERE jaccard >= {t}) AS BIGINT) AS n_pairs "
        "FROM scored"
        for t in SWEEP_THRESHOLDS
    )
    arms_docs = " UNION ALL ".join(
        f"SELECT CAST({t} AS DOUBLE) AS threshold, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs_affected "
        f"FROM (SELECT id_a AS doc FROM scored WHERE jaccard >= {t} "
        f"      UNION ALL SELECT id_b FROM scored WHERE jaccard >= {t})"
        for t in SWEEP_THRESHOLDS
    )
    return (
        _duck_minhash_cte()
        + _duck_lsh_pairs()
        + _duck_cand_overlap()
        + f""",
        scored AS (
            SELECT i.id_a, i.id_b,
                   ROUND(i.n_shared / (sa.n + sb.n - i.n_shared), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON i.id_a = sa.doc_id
            JOIN sizes sb ON i.id_b = sb.doc_id
        ),
        p AS ({arms_pairs}),
        dd AS ({arms_docs})
        SELECT p.threshold, p.n_pairs, dd.n_docs_affected
        FROM p JOIN dd USING (threshold)
    """
    )


@register(
    "dedup_threshold_sweep",
    oracle=_threshold_sweep_oracle(),
    tags=("dedup", "threshold-tuning", "extension"),
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold tuning table: from ONE two-stage verified
    frame (LSH candidates → exact capped-shingle Jaccard), the pair
    count and distinct-doc count you would act on at each candidate
    threshold — the table an operator reads before picking the dedup
    cut, replacing four separate pipeline runs with one scan. All
    counts are threshold-nested by construction (higher cuts count
    subsets). Shape: the verified frame is PERSISTED and read exactly
    twice — one conditional aggregate for all four pair counters, one
    exploded-doc aggregate whose four countDistincts Spark expands
    over the (tiny, LSH-bounded) pair frame — never once per
    threshold (the same-frame-in-multiple-branches anti-pattern the
    round-7 triangle rewrite hunted: an unpersisted expensive frame
    referenced per branch re-executes the whole LSH+verify chain per
    threshold)."""

    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signature_inline(docs, "doc_id", "text")
    cand = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id")
    verified = verify_candidate_jaccard(
        cand, shingle_set(docs, "doc_id", "text", SHINGLE_K), "doc_id"
    ).persist()
    pairs_agg = verified.agg(
        *[
            F.count(F.when(F.col("jaccard") >= t, 1))
            .cast("long")
            .alias(f"p_{i}")
            for i, t in enumerate(SWEEP_THRESHOLDS)
        ]
    )
    docs_agg = (
        verified.select(
            F.explode(F.array("id_a", "id_b")).alias("doc"), "jaccard"
        )
        .agg(
            *[
                F.countDistinct(F.when(F.col("jaccard") >= t, F.col("doc")))
                .cast("long")
                .alias(f"d_{i}")
                for i, t in enumerate(SWEEP_THRESHOLDS)
            ]
        )
    )
    arms = ", ".join(
        f"CAST({t} AS DOUBLE), p_{i}, d_{i}" for i, t in enumerate(SWEEP_THRESHOLDS)
    )
    return (
        pairs_agg.crossJoin(docs_agg)
        .select(
            F.expr(
                f"stack({len(SWEEP_THRESHOLDS)}, {arms})"
                " AS (threshold, n_pairs, n_docs_affected)"
            )
        )
    )



@register(
    "snapshot_novelty_rate",
    oracle=_duck_cluster_cte()
    + _DUCK_ALL_LABELS
    + f""",
        snapped AS (
            SELECT doc_id, cluster_id,
                   {H.duck_bucket("doc_id", SNAP_SEED, N_SNAPSHOTS)} AS snapshot
            FROM all_labels
        ),
        first_seen AS (
            SELECT cluster_id, max(snapshot) AS first_snap
            FROM snapped GROUP BY cluster_id
        )
        SELECT s.snapshot,
               count(*) AS n_docs,
               CAST(count(*) FILTER (WHERE f.first_snap = s.snapshot) AS BIGINT)
                   AS n_in_new_clusters,
               ROUND(count(*) FILTER (WHERE f.first_snap = s.snapshot)
                     / CAST(count(*) AS DOUBLE), 6) AS novelty_rate
        FROM snapped s JOIN first_seen f USING (cluster_id)
        GROUP BY s.snapshot
    """,
    tags=("dedup", "cross-snapshot", "novelty", "extension"),
)
def q_snapshot_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl novelty: per crawl snapshot (hash-derived age,
    index {N_SNAPSHOTS - 1} = oldest), the fraction of its documents
    whose near-dup cluster FIRST appeared in that snapshot — i.e.
    content the crawl genuinely added vs re-crawls of something an
    older snapshot already had. The number that decides whether the
    next crawl of a source is worth its cost. "First seen" (= the
    oldest snapshot holding a member, index max) annotates each row as
    a cluster-keyed max-WINDOW over the shared LSH→CC labels — ONE
    |docs| exchange, where the round-13 shape aggregated first_snap
    into a cluster table and joined it back (a second evaluation of
    the labeled frame feeding the aggregate, plus the join). Same
    r13 window-min trick as the LSS star passes (guide §2.4); group
    width is cluster size, spill-bounded like every window here."""
    snap = F.expr(H.spark_bucket("doc_id", SNAP_SEED, N_SNAPSHOTS))
    snapped = _cluster_labels(spark, sf_dir).select(
        "doc_id", "cluster_id", snap.alias("snapshot")
    )
    first_seen = F.max("snapshot").over(Window.partitionBy("cluster_id"))
    new_c = F.col("first_snap") == F.col("snapshot")
    return (
        snapped.withColumn("first_snap", first_seen)
        .groupBy("snapshot")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(new_c, 1)).cast("long").alias("n_in_new_clusters"),
            F.round(
                F.count(F.when(new_c, 1)) / F.count("*").cast("double"), 6
            ).alias("novelty_rate"),
        )
    )
