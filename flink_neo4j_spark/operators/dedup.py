"""Deduplication operators for LLM-data pipelines over the ``documents`` and
``embeddings`` tables: exact, MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup.

Every operator is pure DataFrame/SQL-expression code (JVM-side, whole-stage
codegen — zero Python UDFs), with a DuckDB oracle computing the *same*
deterministic algorithm so results hash-match cross-engine. The engine-neutral
hash primitive is ``md5(seed || '|' || shingle)``: a lexicographic min over
md5 hex strings is a valid min-hash (md5 behaves as a uniform permutation of
the shingle space) and is bit-identical in any engine.

Scale notes (100 TB posture):
- shingling/minhashing is a narrow map + partial agg — no shuffle until the
  per-doc ``groupBy(doc_id)``, which AQE sizes;
- LSH candidate generation joins on the band key only (never all-pairs);
  the band join is a standard shuffle-hash join on a high-cardinality key;
- exact-Jaccard verification happens only within candidate buckets, so the
  quadratic step is bounded by bucket size (salt oversized buckets upstream
  if a degenerate shingle dominates — see ``NEAR_DUP_MAX_BUCKET``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import os

from flink_neo4j_spark.catalog import (
    documents_for_compute,
    load_table,
    parallelize_for_compute,
    session_memo,
    table_for_compute,
)
from flink_neo4j_spark.functions import (
    char_grams_expr,
    minhash_expr,
    shingles_from_tokens_expr,
    tokens_expr,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

#: MinHash seeds — one independent hash function per seed.
MINHASH_SEEDS = (0, 1, 2, 3)
#: Near-dup verification threshold on word-3-shingle Jaccard (data-tuned so
#: the synthetic corpus yields non-trivial matches; production would use 0.8+).
JACCARD_THRESHOLD = 0.2
#: Cosine threshold for embedding near-dup (synthetic corpus max ~0.47).
COSINE_THRESHOLD = 0.4
#: Buckets larger than this indicate a degenerate band key; they are dropped
#: (logged in production) rather than allowed to go quadratic.
NEAR_DUP_MAX_BUCKET = 1000
#: Upper bound on rows per GEMM sub-block in d6 — caps the pandas frame an
#: executor materializes for a hot label (4096 x 64 doubles ~= 2 MB).
MAX_GEMM_BLOCK = 4096
#: Hard cap on min-label-propagation rounds in d7/d12; real dedup graphs are
#: shallow (2-4 rounds) — a pathological chain stops here with a warning.
MAX_CC_ROUNDS = 50

# -- shared Spark-side expression builders ---------------------------------

#: normalized token array from `text` (corpus is already lower/space-joined,
#: but normalization keeps the operator general).
TOKENS_EXPR = tokens_expr("text")

#: word 3-shingles over a pre-materialized `tok` column. See
#: flink_neo4j_spark.functions.expressions for the lambda re-evaluation /
#: pushdown-inlining rules this split-projection structure encodes
#: (measured 16x at sf0.01).
SHINGLES_FROM_TOK_EXPR = shingles_from_tokens_expr("tok", k=3)

# DuckDB twins (1-based inclusive slices; generate_series(1,0) is empty).
# string_split_regex(' +') matches Spark's split-on-whitespace-RUNS: text
# whose normalization yields consecutive spaces ("a, b" -> "a  b") must not
# produce empty-string tokens in one engine only.
DUCK_TOKENS = (
    "string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +')"
)
DUCK_SHINGLES = (
    f"list_distinct([array_to_string(tok[i:i+2], ' ') "
    f"for i in generate_series(1, greatest(len(tok) - 2, 0))])"
)


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The <3-token filter is expressed on the token count, NOT as
    # ``size(sh) > 0``: predicate pushdown rewrites a filter on `sh` into the
    # scan-side Filter with the whole quadratic shingle expression inlined
    # (twice — null check + predicate), which dominated the runtime. The
    # token-count form pushes down as one linear split() per row and is
    # equivalent (sh is non-empty iff the doc has >= 3 tokens).
    # session-memoized + localCheckpoint: d2/d3/d9 (and d7 through d3) all
    # start from this exact (doc_id, sh) table; the tokenize+shingle map is
    # paid once per session instead of once per query.
    def build() -> DataFrame:
        d = documents_for_compute(spark, sf_dir)
        return (
            d.filter(F.expr(f"size({TOKENS_EXPR}) >= 3"))
            .selectExpr("doc_id", f"{TOKENS_EXPR} AS tok")
            .selectExpr("doc_id", f"{SHINGLES_FROM_TOK_EXPR} AS sh")
            .localCheckpoint()
        )

    key = ("shingled", os.path.abspath(sf_dir))
    return session_memo(spark, key, build)


def _materialized(df: DataFrame) -> DataFrame:
    """Persist a signature table that feeds a self-join.

    Both sides of an LSH self-join (plus the bucket-size aggregate and the
    final ORDER BY's range-partitioner sampling pass) would otherwise
    re-execute the shingle+minhash subtree up to ~8x. At 100 TB this is the
    standard checkpoint-the-signatures-before-the-join pattern; MEMORY_AND_DISK
    spills gracefully when signatures exceed executor memory.
    """
    return df.persist()


_DUCK_SHINGLED = f"""
    WITH tokd AS (SELECT doc_id, {DUCK_TOKENS} AS tok FROM documents),
    shingled AS (
      SELECT doc_id, {DUCK_SHINGLES} AS sh FROM tokd
    ), s AS (SELECT doc_id, sh FROM shingled WHERE len(sh) > 0)
"""


# --------------------------------------------------------------------------
# D1 — exact dedup: canonical doc per distinct text + copy count.
# Hash-groupBy on md5(text): one shuffle keyed by the fingerprint; at 100 TB
# group on the 128-bit hash, never the full text (shuffle bytes ~= 16B/row).
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = documents_for_compute(spark, sf_dir)
    return (
        d.groupBy(F.md5(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_id")
    )


# D2 — MinHash signatures: k independent min-hashes per doc.
# Narrow map (explode) + partial-aggregated min per seed — single shuffle.
def d2_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode_outer, NOT explode: InferFiltersFromGenerate turns a plain
    # explode into an inferred ``size(sh) > 0`` filter, which predicate
    # pushdown then inlines as the full quadratic shingle expression at the
    # scan (the same trap _shingled documents). Outer generate is exempt from
    # that rule, and is equivalent here because _shingled already drops docs
    # with empty shingle arrays.
    s = _shingled(spark, sf_dir).select("doc_id", F.explode_outer("sh").alias("sg"))
    aggs = [
        F.min(F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("sg")))).alias(f"h{seed}")
        for seed in MINHASH_SEEDS
    ]
    # persist before the ORDER BY: range partitioning samples its child,
    # which would otherwise execute the whole explode+agg twice
    return _materialized(s.groupBy("doc_id").agg(*aggs)).orderBy("doc_id")


# D3 — MinHash-LSH near-dup pairs: band on h0 (1-band LSH), verify exact
# Jaccard within buckets. The join is on the band key, NOT all-pairs.
def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded (a_id, b_id, jac) near-dup pairs — the shared core of
    d3 (pair listing) and d7 (cluster collapse, which starts from exactly
    these pairs). Session-memoized + localCheckpoint like the signature
    tables: the banded self-join + exact-Jaccard verify is paid once per
    session, and the memo holds only the MATCHES (output-sized — the
    pre-threshold candidate set never persists)."""

    def build() -> DataFrame:
        sig = _minhash_sig4(spark, sf_dir)
        banded = sig.select("doc_id", "sh", "h0")
        # degenerate-bucket guard: a band key shared by >MAX docs would go
        # quadratic; drop it (boilerplate shingles, not near-dups).
        sizes = banded.groupBy("h0").agg(F.count("*").alias("_bn"))
        banded = banded.join(
            F.broadcast(sizes.filter(F.col("_bn") <= NEAR_DUP_MAX_BUCKET)),
            "h0",
        ).drop("_bn")
        a = banded.select(
            F.col("h0"), F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh")
        )
        b = banded.select(
            F.col("h0"), F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh")
        )
        pairs = a.join(b, "h0").filter(F.col("a_id") < F.col("b_id"))
        inter = F.size(F.array_intersect("a_sh", "b_sh"))
        union = F.size("a_sh") + F.size("b_sh") - inter
        return (
            pairs.select(
                "a_id",
                "b_id",
                F.round(
                    inter.cast("double") / union.cast("double"), 4
                ).alias("jac"),
            )
            .filter(F.col("jac") >= JACCARD_THRESHOLD)
            .localCheckpoint()
        )

    key = ("minhash_pairs", os.path.abspath(sf_dir))
    return session_memo(spark, key, build)


def _minhash_sig4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh, h0..h3) minhash signature table shared by d3 (band on
    h0) and d10 (2-row bands over all four seeds): one tokenize+shingle+
    4-hash pass per session instead of one per query."""

    def build() -> DataFrame:
        sh = _shingled(spark, sf_dir)
        return sh.select(
            "doc_id",
            "sh",
            *[
                F.expr(minhash_expr("sh", str(s))).alias(f"h{s}")
                for s in MINHASH_SEEDS
            ],
        ).localCheckpoint()

    key = ("minhash_sig4", os.path.abspath(sf_dir))
    return session_memo(spark, key, build)


def d3_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(spark, sf_dir).orderBy("a_id", "b_id")


# D4 — SimHash: 16-bit signature from per-token 16-bit md5 prefixes.
# One explode + one groupBy with 16 conditional-sum aggregates (partial agg).
def _simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session-memoized: d4 (signature listing) and d14 (banded hamming
    # pairing) consume the same table; the token-explode + 16 conditional
    # sums is paid once.
    key = ("simhash_signatures", os.path.abspath(sf_dir))
    return session_memo(spark, key, lambda: _build_simhash(spark, sf_dir))


def d4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_signatures(spark, sf_dir).orderBy("doc_id")


def _build_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = documents_for_compute(spark, sf_dir)
    toks = d.selectExpr("doc_id", f"explode({TOKENS_EXPR}) AS tok").withColumn(
        "h", F.expr("CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS INT)")
    )
    bit_aggs = [
        F.when(
            F.sum(
                F.when(F.expr(f"(shiftright(h, {b}) % 2) = 1"), 1).otherwise(-1)
            )
            >= 0,
            F.lit(1 << b),
        )
        .otherwise(0)
        .alias(f"b{b}")
        for b in range(16)
    ]
    sig = toks.groupBy("doc_id").agg(*bit_aggs)
    total = sum((F.col(f"b{b}") for b in range(16)), F.lit(0))
    # materialize pre-sort for the same range-sampling reason as d2;
    # localCheckpoint (not persist) so the memoized table survives
    # inter-query cache hygiene
    return sig.select("doc_id", total.alias("simhash")).localCheckpoint()


# D5 — n-gram Jaccard near-dup over *character* 5-grams, blocked by min-hash.
# Same LSH shape as D3 but character-shingled (robust to word-order edits).
CHAR_GRAMS_EXPR = char_grams_expr("norm", n=5)

#: Injective int64 code for one 5-char gram over the normalized alphabet
#: ([a-z0-9 ], every code point < 128): base-128 polynomial of the five
#: code points. The quadratic pair-scoring phase then intersects arrays of
#: primitive longs instead of UTF8 strings — same cardinalities exactly
#: (injectivity ⇒ no collisions), but the per-pair hash set is primitive
#: and allocation-free, which both speeds the hot loop ~2x and removes the
#: GC pressure that made d5's wall time swing run-to-run.
GRAM_CODE_LAMBDA = (
    "s -> ((((CAST(ascii(substring(s, 1, 1)) AS BIGINT) * 128"
    " + ascii(substring(s, 2, 1))) * 128"
    " + ascii(substring(s, 3, 1))) * 128"
    " + ascii(substring(s, 4, 1))) * 128"
    " + ascii(substring(s, 5, 1)))"
)


def _chargram_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guarded char-5-gram signature table (doc_id, h0, gc) shared by d5
    (symmetric Jaccard) and d13 (asymmetric containment): normalized text ->
    char grams -> minhash band key h0 + int-coded gram array gc, with the
    degenerate-bucket guard applied (a minhash bucket dominated by
    boilerplate text would go quadratic in the downstream self-joins; drop
    it — logged in production). Session-memoized + localCheckpoint: the
    signature build feeds both sides of each query's self-join (persist was
    already mandatory within one query) and is byte-identical across the two
    queries, so it is paid once per session. The length filter is on
    normalized length (linear when pushed down), not size(gr) — same
    pushdown trap as _shingled; gr is non-empty iff len(norm) >= 5."""

    def build() -> DataFrame:
        d = documents_for_compute(spark, sf_dir)
        g = (
            d.selectExpr(
                "doc_id",
                "trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ')) AS norm",
            )
            .filter(F.expr("length(norm) >= 5"))
            .selectExpr("doc_id", f"{CHAR_GRAMS_EXPR} AS gr")
            .withColumn("h0", F.expr(minhash_expr("gr", "g")))
            .withColumn("gc", F.expr(f"transform(gr, {GRAM_CODE_LAMBDA})"))
            .drop("gr")
            .localCheckpoint()
        )
        sizes = g.groupBy("h0").agg(F.count("*").alias("_bn"))
        return (
            g.join(
                F.broadcast(sizes.filter(F.col("_bn") <= NEAR_DUP_MAX_BUCKET)),
                "h0",
            )
            .drop("_bn")
            .localCheckpoint()
        )

    key = ("chargram_signatures", os.path.abspath(sf_dir))
    return session_memo(spark, key, build)


def _chargram_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a_id, b_id, inter, na, nb) — the quadratic within-bucket
    intersection counts d5 (symmetric Jaccard) and d13 (asymmetric
    containment) both derive their score from. The ``array_intersect``
    pass over the candidate pairs is the dominant cost of both queries
    and is byte-identical between them, so it is session-memoized like
    the signature tables (one pass per session, first consumer pays).

    Retention predicate: containment = inter/min(na, nb) bounds Jaccard
    from above (union >= min), so keeping exactly the pairs with
    inter * 100000 >= 19995 * min(na, nb) — i.e. unrounded containment
    >= 0.19995, integer-exact arithmetic — preserves every pair either
    consumer can emit: d5 keeps round(jac, 4) >= 0.2 ⇒ jac >= 0.19995 ⇒
    cont >= 0.19995, and d13 keeps round(cont, 4) >= 0.5 ⇒ cont >=
    0.49995. The memo holds integer triples (never the gram arrays), so
    both consumers recompute their ROUNDED score from the same integers
    the inline form used — bitwise-identical results."""

    def build() -> DataFrame:
        g = _chargram_signatures(spark, sf_dir)
        a = g.select(
            "h0", F.col("doc_id").alias("a_id"), F.col("gc").alias("a_gc")
        )
        b = g.select(
            "h0", F.col("doc_id").alias("b_id"), F.col("gc").alias("b_gc")
        )
        pairs = a.join(b, "h0").filter(F.col("a_id") < F.col("b_id"))
        inter = F.size(F.array_intersect("a_gc", "b_gc"))
        return (
            pairs.select(
                "a_id",
                "b_id",
                inter.alias("inter"),
                F.size("a_gc").alias("na"),
                F.size("b_gc").alias("nb"),
            )
            .filter(
                F.col("inter").cast("long") * 100000
                >= F.lit(19995) * F.least("na", "nb").cast("long")
            )
            .localCheckpoint()
        )

    key = ("chargram_scored_pairs", os.path.abspath(sf_dir))
    return session_memo(spark, key, build)


def d5_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = _chargram_scored_pairs(spark, sf_dir)
    inter = F.col("inter")
    union = F.col("na") + F.col("nb") - F.col("inter")
    # the memoized pair table is already materialized, so the ORDER BY's
    # range-sampling pass re-runs only the cheap integer arithmetic (the
    # quadratic intersect pass is behind the checkpoint)
    return (
        sp.select(
            "a_id",
            "b_id",
            F.round(inter.cast("double") / union.cast("double"), 4).alias("jac"),
        )
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
        .orderBy("a_id", "b_id")
    )


# D14 — SimHash near-dup pair DETECTION via banded hamming probing — the
# Manku-Jain-Sarma web-dedup algorithm (d4 only computes signatures; this
# completes the pipeline). The 16-bit signature splits into 4 bands of 4
# bits; a pair at hamming distance <= HAM_K is GUARANTEED to agree exactly
# on at least one band (pigeonhole: HAM_K < n_bands), so banded equi-joins
# have perfect recall — candidates are then verified with one
# bit_count(XOR) each, integer ops only. Per-(band, key) bucket guard as
# d3/d5; candidates dedupe on bare id pairs across bands before verify.
HAM_K = 3
SIMHASH_BAND_BITS = 4


def d14_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _simhash_signatures(spark, sf_dir)  # (doc_id, simhash), materialized
    # The quadratic candidate stage runs over DISTINCT signatures weighted
    # by group size, never over documents: a 16-bit simhash has at most
    # 65,536 distinct values, so the within-bucket self-join is BOUNDED at
    # any corpus size, while the doc-level expansion at the end is
    # output-bound (every expanded row is a result row). Equivalence to
    # the doc-level form is exact because both bucket membership and
    # bucket survival (doc count <= NEAR_DUP_MAX_BUCKET per (band, key))
    # are functions of the signature alone: sizes here SUM group counts,
    # which is the same per-bucket doc count the doc-level form computed.
    grp = sig.groupBy("simhash").agg(F.count("*").alias("n"))
    bands = grp.select(
        "simhash",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(
                            f"shiftright(simhash, {SIMHASH_BAND_BITS * i}) "
                            f"% {1 << SIMHASH_BAND_BITS}"
                        ).alias("key"),
                    )
                    for i in range(16 // SIMHASH_BAND_BITS)
                ]
            )
        ).alias("bk"),
    ).select(
        "simhash", "n", F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    sizes = bands.groupBy("band", "key").agg(F.sum("n").alias("_bn"))
    kept = bands.join(
        F.broadcast(sizes.filter(F.col("_bn") <= NEAR_DUP_MAX_BUCKET)),
        ["band", "key"],
    ).select("band", "key", "simhash")
    a = kept.select("band", "key", F.col("simhash").alias("sa"))
    b = kept.select("band", "key", F.col("simhash").alias("sb"))
    # hamming filter BEFORE the distinct: the former doc-level form
    # shuffled every within-bucket candidate pair through a distinct and
    # only then dropped the >HAM_K tail; filter-then-distinct is
    # row-deterministic, so the surviving set is identical and the
    # distinct's input collapses to the near-dup signature pairs.
    # localCheckpoint: spairs is output-bound tiny and consumed twice
    # (broadcast into the expansion join + the db semi prefilter below);
    # without it each reference re-expands the whole candidate subtree
    spairs = (
        a.join(b, ["band", "key"])
        .filter(F.col("sa") <= F.col("sb"))
        .filter(F.expr("bit_count(sa ^ sb)") <= HAM_K)
        .select("sa", "sb")
        .distinct()
        .localCheckpoint()
    )
    da = sig.select(F.col("simhash").alias("sa"), F.col("doc_id").alias("ia"))
    db = sig.select(F.col("simhash").alias("sb"), F.col("doc_id").alias("ib"))
    # broadcast-semi prefilter: only docs whose signature occurs in some
    # near-dup pair reach the expansion join, so its shuffle is bounded
    # by the OUTPUT size, not the corpus size
    db = db.join(
        F.broadcast(spairs.select("sb").distinct()), "sb", "leftsemi"
    )
    # sa < sb: every cross pair of the two groups is one result row
    # (ordered by id via least/greatest); sa = sb: the within-group
    # ordered pairs. Each unordered doc pair appears exactly once because
    # spairs holds each unordered signature pair once (sa <= sb).
    return (
        da.join(F.broadcast(spairs), "sa")
        .join(db, "sb")
        .filter((F.col("sa") < F.col("sb")) | (F.col("ia") < F.col("ib")))
        .select(
            F.least("ia", "ib").alias("a_id"),
            F.greatest("ia", "ib").alias("b_id"),
            F.expr("bit_count(sa ^ sb)").alias("hamming"),
        )
        .orderBy("a_id", "b_id")
    )


# D13 — asymmetric CONTAINMENT near-dup: score = |A∩B| / min(|A|, |B|) —
# catches "doc A is a quote/excerpt of doc B", which symmetric Jaccard
# (d5) structurally misses: a 100-gram doc fully inside a 10000-gram doc
# has Jaccard ~0.01 but containment 1.0. Same banded candidate generation,
# bucket guard, int-coded gram intersection and pre-sort persist as d5;
# only the denominator changes. The corpus genuinely contains such pairs
# (max containment 1.0 at every SF).
CONTAINMENT_THRESHOLD = 0.5


def d13_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = _chargram_scored_pairs(spark, sf_dir)
    denom = F.least("na", "nb")
    return (
        sp.select(
            "a_id",
            "b_id",
            F.round(
                F.col("inter").cast("double") / denom.cast("double"), 4
            ).alias("cont"),
        )
        .filter(F.col("cont") >= CONTAINMENT_THRESHOLD)
        .orderBy("a_id", "b_id")
    )


# D6 — embedding-cosine near-dup, blocked on `label` (the coarse partition a
# real pipeline gets from a clustering/IVF step): numpy GEMM per block via
# applyInPandas.
#
# Why not pure DataFrame expressions: a pair self-join with the dot product
# as aggregate(zip_with(...)) runs the lambda interpreted per element (20x
# slower than the oracle, measured); flattening to a 64-term arithmetic
# expression lands in ONE generated method too large for HotSpot's JIT
# huge-method limit, so it runs as interpreted bytecode (still 5-7x slower).
# Dense-vector pair scoring is the one place BLAS through Arrow is the right
# physical plan: per block, cos = (A @ B.T) / outer(norms) — one vectorized
# kernel, threshold applied before anything is returned to the JVM.
#
# Hot-label safety: a label is never materialized as one pandas frame.
# Rows are ranked within their label and split into sub-blocks of at most
# MAX_GEMM_BLOCK rows; the full within-label pair set is covered exactly by
# the block-matrix decomposition — every sub-block pair (i, j), i <= j, is
# one bounded GEMM task keyed (label, i, j). Each row is replicated to the
# n_sub tasks that involve its sub-block (the unavoidable cost of exact
# all-pairs within a hot label; the replication factor grows with the hot
# label, not with the table). For uniform labels (n <= MAX_GEMM_BLOCK) this
# degenerates to exactly one task per label, i.e. the simple per-label GEMM.
def _gemm_tasks(e: DataFrame, block: int) -> DataFrame:
    """Block-matrix task assignment for within-label all-pairs GEMM.

    Rows rank within their label into sub-blocks of at most ``block`` rows;
    each row replicates to every (i, j) sub-block pair that involves its
    own sub-block — (i, s) for i ≤ s and (s, j) for j > s — so every
    within-label pair is covered by EXACTLY one task and no task ever
    holds more than 2·``block`` rows, however hot the label. Exposed
    separately from :func:`d6_embedding_near_dup` so the hot-label
    guarantee is testable directly (``tests/test_dedup_guards.py``)."""
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy("vec_id")
    sub = e.withColumn(
        "s", ((F.row_number().over(w) - 1) / F.lit(block)).cast("int")
    )
    smax = sub.groupBy("label").agg(F.max("s").alias("smax"))
    return (
        sub.join(F.broadcast(smax), "label")
        .withColumn(
            "ij",
            F.explode(
                F.expr(
                    "concat("
                    "  transform(sequence(0, s), i -> struct(i AS i, s AS j)),"
                    "  CASE WHEN s < smax"
                    "       THEN transform(sequence(s + 1, smax),"
                    "                      j -> struct(s AS i, j AS j))"
                    "       ELSE array() END)"
                )
            ),
        )
        .select(
            "label", "vec_id", "emb", "s",
            F.col("ij.i").alias("i"), F.col("ij.j").alias("j"),
        )
    )


def d6_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    e = table_for_compute(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "label", "CAST(embedding AS ARRAY<DOUBLE>) AS emb"
    )
    tasks = _gemm_tasks(e, MAX_GEMM_BLOCK)

    def gemm_block(pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = int(pdf["i"].iloc[0]), int(pdf["j"].iloc[0])
        left = pdf[pdf["s"] == i]
        m_a = np.vstack(left["emb"].to_numpy())
        na = np.sqrt((m_a * m_a).sum(axis=1))
        ids_a = left["vec_id"].to_numpy()
        if i == j:
            cos = (m_a @ m_a.T) / np.outer(na, na)
            iu = np.triu_indices(len(ids_a), k=1)
            ai, bi = ids_a[iu[0]], ids_a[iu[1]]
            val = np.round(cos[iu], 4)
        else:
            right = pdf[pdf["s"] == j]
            m_b = np.vstack(right["emb"].to_numpy())
            nb = np.sqrt((m_b * m_b).sum(axis=1))
            ids_b = right["vec_id"].to_numpy()
            cos = (m_a @ m_b.T) / np.outer(na, nb)
            ai = np.repeat(ids_a, len(ids_b))
            bi = np.tile(ids_b, len(ids_a))
            val = np.round(cos.ravel(), 4)
        swap = ai > bi  # normalize pair order to a_id < b_id
        a_id = np.where(swap, bi, ai)
        b_id = np.where(swap, ai, bi)
        keep = val >= COSINE_THRESHOLD
        return pd.DataFrame({"a_id": a_id[keep], "b_id": b_id[keep], "cos": val[keep]})

    return (
        tasks.groupBy("label", "i", "j")
        .applyInPandas(gemm_block, schema="a_id long, b_id long, cos double")
        .orderBy("a_id", "b_id")
    )


# D7 — end-to-end dedup: LSH near-dup PAIRS (d3) -> connected-component
# CLUSTERS -> canonical keep-list. This is the full pipeline a training-data
# dedup actually runs: transitive closure matters because near-dup is not
# transitive pair-wise (A~B, B~C does not imply the A-C pair was emitted),
# yet A, B, C must dedup to ONE canonical doc.
#
# Components via iterative min-label propagation over the pair graph with a
# driver-side convergence check (a scalar count per check — metadata, not
# row data; clusters are shallow so this converges in ~2-4 rounds). The
# oracle computes the same fixpoint with a recursive CTE.
def _pair_components(pairs: DataFrame, ids: DataFrame, n_ids: int) -> DataFrame:
    """(vid, comp) — the min-label connected-component fixpoint of the
    (a_id, b_id) pair graph over the one-column id universe ``ids``
    (isolated ids keep their own label). Shared by d7 (near-dup text
    pairs) and d12 (near-dup embedding pairs). MAX_CC_ROUNDS bounds a
    pathological chain."""
    from flink_neo4j_spark.tuning import iter_kernel, min_supersteps

    und = _materialized(
        pairs.unionAll(
            pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
        )
    )
    vid = F.col(ids.columns[0])
    with iter_kernel(pairs.sparkSession, n_ids) as k:
        return min_supersteps(
            k,
            ids.select(vid.alias("vid"), vid.alias("comp")),
            lambda c: und.join(k.bc(c.withColumnRenamed("vid", "a_id")), "a_id")
            .select(F.col("b_id").alias("vid"), "comp"),
            ["vid"],
            "comp",
            MAX_CC_ROUNDS,
            until_stable=True,
        )


def _minhash_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vid, comp) — the min-label connected-component fixpoint over the
    memoized near-dup pair table. Session-memoized like the pair table
    itself: d7 (cluster listing), d19 (leakage-safe split by cluster) and
    d20 (dedup QA report) all start from exactly this assignment, and the
    iterative loop is the dominant cost of all three — one fixpoint per
    session, the first consumer pays it (GDS analogue: one ``gds.wcc``
    materialization read by several downstream queries)."""
    from flink_neo4j_spark.tuning import memoized_count

    def build() -> DataFrame:
        pairs = _minhash_pairs(spark, sf_dir).select("a_id", "b_id")
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        n_docs = memoized_count(
            spark, ("documents", os.path.abspath(sf_dir)), docs
        )
        return _pair_components(pairs, docs, n_docs)

    key = ("minhash_cc", os.path.abspath(sf_dir))
    return session_memo(spark, key, build)


def d7_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_cc(spark, sf_dir).select(
        F.col("vid").alias("doc_id"),
        "comp",
        (F.col("vid") == F.col("comp")).alias("is_kept"),
    ).orderBy("doc_id")


# D12 — SEMANTIC dedup end-to-end: the embedding-space twin of d3->d7.
# Candidate pairs come from the deterministic sign-LSH bucket join (s8's
# generator: never all-pairs), survive an exact rounded-cosine threshold,
# and collapse into keep-lists by the same min-label component propagation
# as d7 (keep = cluster minimum). This is the "semantic dedup" pass of a
# pretraining pipeline (SemDeDup-style): near-duplicate MEANING, not
# near-duplicate text. Threshold is data-tuned (synthetic corpus max
# intra-bucket cosine ~0.46; production uses 0.9+ on real embeddings).
SEM_COS_THRESHOLD = 0.35


def d12_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_neo4j_spark.operators.similarity import _emb_sig

    # per-vector norm precomputed once (bitwise-identical to inline; see
    # s8); the sig/nrm table itself is the session-shared _emb_sig
    # projection (paid once across s2/s8/s17/d12)
    e = _emb_sig(spark, sf_dir)
    a = e.select(
        F.col("vec_id").alias("a_id"), F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"), "sig",
    )
    b = e.select(
        F.col("vec_id").alias("b_id"), F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"), "sig",
    )
    dot = F.expr(
        "aggregate(zip_with(a_emb, b_emb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    )
    pairs = (
        a.join(b, "sig")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(dot / (F.col("a_nrm") * F.col("b_nrm")), 4).alias("cos"),
        )
        .filter(F.col("cos") >= SEM_COS_THRESHOLD)
        .select("a_id", "b_id")
    )
    from flink_neo4j_spark.tuning import memoized_count

    vids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    n_vecs = memoized_count(
        spark, ("embeddings", os.path.abspath(sf_dir)), vids
    )
    comp = _pair_components(pairs, vids, n_vecs)
    return comp.select(
        F.col("vid").alias("vec_id"),
        "comp",
        (F.col("vid") == F.col("comp")).alias("is_kept"),
    ).orderBy("vec_id")


# D8 — blocked edit-distance near-dup: candidate pairs share a 16-char
# normalized prefix (an equi-join on the block key — never an all-pairs
# scan), then exact Levenshtein on 200-char prefixes within each block.
# Levenshtein is O(len^2) per pair, so the prefix cap bounds per-pair cost
# and the blocking bounds pair count; at 100 TB the block key moves to a
# cheaper signature (simhash band or minhash bucket, d3/d4) with this same
# verify step. Spark's levenshtein() and DuckDB's agree exactly (classic
# unit-cost edit distance), so the operator is hash-checkable.
#
# Scale control on the verify step (exact — the output is identical on
# either path): the join's hash layout keys every block's quadratic pair
# set to the single task owning the block key, so a dup-heavy corpus
# concentrates Levenshtein work on a few stragglers — the sf10 probe
# measured pre-fix d8 blowing a 40-min timeout with 31/32 tasks idle.
# The fix is ADAPTIVE, decided from the guard aggregate the plan already
# computes (per-block doc counts — exact, a few KB):
# - pair mass per join task (sum of C(n,2) over the blocks that
#   murmur3-hash to it — F.hash matches HashPartitioning) stays under
#   D8_PAIRS_PER_TASK on every task -> score pairs INLINE in the join
#   stage (one stage, whole-stage codegen, no extra exchange);
# - any task would exceed it -> re-hash the candidate pairs on the
#   unique (a_id, b_id) key at pair-count-proportional width first, so
#   the quadratic work spreads over every core. Measured at sf1 the
#   inline path is 12.8 s where the always-repartition form pays 23.3 s
#   for the string shuffle; at sf10 the inline path is the straggler
#   timeout and the re-hash finishes.
# Spark's 3-arg banded levenshtein(l, r, threshold) measured 2.4x SLOWER
# than the plain full-matrix form on this workload (sf1: 30.7 s vs
# 12.8 s inline — the band bookkeeping costs more than the skipped
# cells at len<=200, threshold=40), so both paths keep the 2-arg form.
D8_PAIRS_PER_TASK = 100_000


def d8_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = documents_for_compute(spark, sf_dir)
    base = _materialized(
        d.selectExpr(
            "doc_id",
            "substring(lower(text), 1, 200) AS t",
            "substring(lower(text), 1, 16) AS blk",
        )
    )
    # degenerate-bucket guard (same as d3/d5): a common 16-char prefix
    # (boilerplate headers) would make the self-join quadratic; drop it.
    sizes = _materialized(base.groupBy("blk").agg(F.count("*").alias("_bn")))
    kept_sizes = sizes.filter(F.col("_bn") <= NEAR_DUP_MAX_BUCKET)
    base = base.join(F.broadcast(kept_sizes), "blk").drop("_bn")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ppairs = F.col("_bn") * (F.col("_bn") - 1) / 2
    stats = (
        kept_sizes.groupBy(F.pmod(F.hash("blk"), F.lit(n_part)).alias("pt"))
        .agg(F.sum(ppairs).alias("tp"))
        .agg(F.sum("tp").alias("total"), F.max("tp").alias("worst"))
        .collect()[0]
    )
    total, worst = int(stats["total"] or 0), int(stats["worst"] or 0)
    pairs = base.alias("a").join(
        base.alias("b"),
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    scored = pairs.select(
        F.col("a.doc_id").alias("a_id"),
        F.col("b.doc_id").alias("b_id"),
        F.levenshtein(F.col("a.t"), F.col("b.t")).alias("dist"),
    )
    if worst > D8_PAIRS_PER_TASK:
        width = min(4096, max(n_part, total // D8_PAIRS_PER_TASK + 1))
        scored = (
            pairs.select(
                F.col("a.doc_id").alias("a_id"),
                F.col("b.doc_id").alias("b_id"),
                F.col("a.t").alias("ta"),
                F.col("b.t").alias("tb"),
            )
            # hash layout on the unique pair key (no local sort, unlike
            # round-robin under sortBeforeRepartition)
            .repartition(width, "a_id", "b_id")
            .select(
                "a_id",
                "b_id",
                F.levenshtein(F.col("ta"), F.col("tb")).alias("dist"),
            )
        )
    # persist pre-sort: the ORDER BY's sampling pass would re-run every
    # levenshtein otherwise (see d5's measurement)
    return _materialized(scored.filter(F.col("dist") <= 40)).orderBy(
        "a_id", "b_id"
    )


# D9 — benchmark decontamination: flag training documents that share any
# word-3-shingle with a held-out benchmark set (here a deterministic slice,
# doc_id % 20 == 0, standing in for an eval suite). This is the standard
# n-gram-overlap decontamination every pretraining pipeline runs before
# training. Plan shape: explode shingles ONCE (persisted — the benchmark and
# train branches both read it), drop shingles that are too common across
# benchmark docs (CONTAM_MAX_DF — a super-common phrase is boilerplate, not
# contamination, and would also be the degenerate join key that goes
# quadratic at 100 TB), then one equi-join on the shingle and a per-doc
# count. The benchmark side is orders of magnitude smaller than the train
# side in production, so the join broadcasts; here it stays a shuffle join
# under AQE, same semantics.
CONTAM_MAX_DF = 100


def _decontam_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shared) — per-train-doc count of df-capped shingles
    shared with the benchmark slice. Session-memoized: d9 (the report,
    sorted) and d21 (the curation funnel, which only needs the
    contaminated id SET — exactly this table's keys) both derive from it,
    and the explode+distinct+join is the dominant cost of both. The memo
    holds only the matched counts (output-sized)."""

    def build() -> DataFrame:
        ex = _materialized(
            _shingled(spark, sf_dir).select(
                "doc_id", F.explode_outer("sh").alias("sg")
            )
        )
        bench_keys = (
            ex.filter(F.col("doc_id") % 20 == 0)
            .groupBy("sg")
            .agg(F.count_distinct("doc_id").alias("bdf"))
            .filter(F.col("bdf") <= CONTAM_MAX_DF)
            .select("sg")
        )
        train = (
            ex.filter(F.col("doc_id") % 20 != 0).select("doc_id", "sg").distinct()
        )
        return (
            train.join(bench_keys, "sg")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shared"))
            .localCheckpoint()
        )

    key = ("decontam_counts", os.path.abspath(sf_dir))
    return session_memo(spark, key, build)


def d9_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _decontam_counts(spark, sf_dir).orderBy("doc_id")


# D10 — multi-band MinHash-LSH: the production-recall form of d3. d3's one
# band of one row catches only pairs sharing their global minimum shingle
# hash; real pipelines run b bands of r rows (OR-of-ANDs: a pair is a
# candidate if ALL r rows agree in ANY band), tuning (b, r) to the target
# Jaccard threshold. Here the 4 signature hashes form 2 bands x 2 rows.
# Plan shape: one explode over the band structs turns per-band joins into a
# SINGLE equi-join keyed (band, bkey) — bands never cross-match because the
# band index is part of the key. Candidates are deduped on bare (a_id, b_id)
# ids BEFORE the shingle arrays are re-attached for exact-Jaccard verify:
# distinct() over id pairs shuffles ~16 bytes/row, whereas deduping scored
# pairs would shuffle both shingle arrays for every duplicate candidate. The
# per-(band, bkey) degenerate-bucket guard is the same as d3/d5/d8.
LSH_ROWS = 2
LSH_BANDS = len(MINHASH_SEEDS) // LSH_ROWS


def d10_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _minhash_sig4(spark, sf_dir)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"h{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
                )
            ).alias("bkey"),
        )
        for b in range(LSH_BANDS)
    ]
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "bk.band", "bk.bkey")
    sizes = banded.groupBy("band", "bkey").agg(F.count("*").alias("_bn"))
    banded = banded.join(
        F.broadcast(sizes.filter(F.col("_bn") <= NEAR_DUP_MAX_BUCKET)),
        ["band", "bkey"],
    ).drop("_bn")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )
    scored = (
        cand.join(
            sig.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh")),
            "a_id",
        )
        .join(
            sig.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh")),
            "b_id",
        )
    )
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    return _materialized(
        scored.select(
            "a_id",
            "b_id",
            F.round(inter.cast("double") / union.cast("double"), 4).alias("jac"),
        ).filter(F.col("jac") >= JACCARD_THRESHOLD)
    ).orderBy("a_id", "b_id")


# D11 — chunk-level (intra-corpus "line") dedup, the C4/RefinedWeb step that
# removes REPEATED PASSAGES across documents while keeping the documents
# themselves: segment each document into fixed CHUNK_TOKENS-token chunks,
# keep only the first occurrence of each distinct chunk corpus-wide (first =
# smallest (doc_id, chunk_idx)), and re-emit each document with its kept
# chunks plus kept/total counts. The corpus has no sentence/line delimiters
# (FIXTURES.md: space-joined word streams), so fixed token windows are the
# segmentation — the same shape real pipelines use for sequence-level dedup.
#
# Plan shape (100 TB posture):
# - chunking is ONE narrow projection (`transform(sequence(...), slice(...))`)
#   followed by ONE posexplode — and the explode emits only (doc_id,
#   chunk_idx, md5(chunk)): the chunk TEXT is hashed inside the projection
#   and never reaches a shuffle;
# - the keep-first winner per chunk is a groupBy(ckey).min(struct(...)) —
#   partial aggregation absorbs hot chunks (boilerplate) map-side, unlike a
#   row_number() window which would sort every occurrence of a hot chunk in
#   one partition;
# - winners re-attach with an equi-join on the 16-byte hash (both sides
#   ids-only), kept flags collapse to ONE row per doc (n_chunks, n_kept,
#   sorted kept chunk indices), and dedup_text is REBUILT from the
#   document's own tokens in a single join back to the persisted token
#   frame — the document text crosses the wire once, where the previous
#   shape shuffled the full chunk text twice (ckey join + doc_id groupBy),
#   and the corpus is tokenized exactly once instead of four times.
CHUNK_TOKENS = 10


def d11_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = documents_for_compute(spark, sf_dir)
    # The tokenized frame feeds BOTH the winner election and the rebuild
    # join (a diamond), and one tokenization pass is the dominant CPU cost
    # (~2.5 s/pass at sf1) — persist it once like every other dedup
    # signature diamond. The null guard replaces the former
    # ``size(tok) >= 1`` filter: split() always yields at least one
    # element for non-null text (in Spark AND DuckDB), so the only rows
    # the size test can drop are null-text rows — and testing size forced
    # a full extra tokenization pass just for the filter.
    docs = _materialized(
        d.filter(F.col("text").isNotNull()).selectExpr(
            "doc_id", f"{TOKENS_EXPR} AS tok"
        )
    )
    n_chunks_expr = f"int(ceil(size(tok) / {CHUNK_TOKENS}.0))"
    chunk_flags = docs.selectExpr(
        "doc_id",
        f"posexplode(transform(sequence(0, {n_chunks_expr} - 1), "
        f"i -> md5(array_join(slice(tok, i * {CHUNK_TOKENS} + 1, "
        f"{CHUNK_TOKENS}), ' '))))"
        " AS (chunk_idx, ckey)",
    )
    winners = chunk_flags.groupBy("ckey").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("w")
    )
    per_doc = (
        chunk_flags.join(winners, "ckey")
        .select(
            "doc_id",
            "chunk_idx",
            (
                (F.col("doc_id") == F.col("w.doc_id"))
                & (F.col("chunk_idx") == F.col("w.chunk_idx"))
            ).alias("kept"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            # collect_list drops the nulls `when` leaves for dropped chunks;
            # sorting the indices restores document order
            F.sort_array(
                F.collect_list(F.when(F.col("kept"), F.col("chunk_idx")))
            ).alias("kept_idx"),
        )
    )
    return (
        docs.join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.expr(
                f"array_join(transform(kept_idx, i -> array_join("
                f"slice(tok, i * {CHUNK_TOKENS} + 1, {CHUNK_TOKENS}), ' ')), ' ')"
            ).alias("dedup_text"),
        )
        .orderBy("doc_id")
    )


# D15 — normalization-invariant exact dedup: canonicalize the text (lower,
# non-alphanumerics -> single space, trim) BEFORE fingerprinting, so casing,
# punctuation, and whitespace variants of the same document collapse into
# one group — the standard first-strike dedup between exact (d1) and
# near-dup (d3/d5) in web-corpus pipelines (catches mirrored pages,
# re-encoded punctuation, trailing-boilerplate whitespace). Same plan shape
# as d1: narrow per-row canonicalization entirely in JVM regex built-ins,
# then ONE groupBy on the 128-bit md5 of the canonical form (~16 B/row
# shuffle at any scale). Groups are compared engine-vs-oracle including the
# canonical fingerprint itself, so the normalization chain must agree
# byte-for-byte (same regex class, same replacement, same trim).
def d15_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = documents_for_compute(spark, sf_dir)
    canon = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    return (
        d.groupBy(F.md5(canon).alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_variants"))
        .orderBy("keep_id")
    )


# D16 — canonical-document selection: given a duplicate-cluster key, keep
# exactly one document per cluster chosen by SOURCE PRIORITY (curated sources
# beat crawled ones), tie-broken by doc_id — the "which copy survives"
# policy step every production dedup pipeline runs after clustering, where
# the keep decision is editorial, not just MIN(doc_id). Cluster key here is
# a coarse (lang, length-bucket) blocking key so the fixture has real multi-
# member clusters; in production it is d7's cluster_id or d15's normalized
# fingerprint — the operator is key-agnostic.
#
# Scale shape: ONE shuffle on the cluster key for the row_number window; the
# priority rank is a pure expression (numeric suffix of `source`), so no
# dimension join is needed — and if priority came from a real policy table,
# it is dimension-sized and broadcasts. Never materializes per-cluster
# candidate pairs.
def d16_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    priority = F.regexp_extract("source", "(\\d+)$", 1).cast("int")
    cluster = F.concat_ws(
        "_", "lang", F.floor(F.col("n_chars") / 100).cast("int").cast("string")
    )
    w = Window.partitionBy("cluster").orderBy("priority", "doc_id")
    return (
        d.select(
            "doc_id",
            "source",
            cluster.alias("cluster"),
            priority.alias("priority"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("doc_id").alias("keep_id"), "source")
        .orderBy("cluster")
    )


#: d17 sparse-cosine knobs: posting-list df window (rare terms can't link
#: documents; frequent terms are the quadratic hazard — the ABSOLUTE cap is
#: the load-bearing guard at any corpus size, the fractional one keeps the
#: fixture honest), weight quantization scale, and the match threshold.
SPARSE_MIN_DF = 2
SPARSE_MAXDF_FRAC = 0.05
SPARSE_MAXDF_ABS = 200
SPARSE_SCALE = 10_000
SPARSE_COS = 0.35


# d17 — sparse TF-IDF cosine near-dup (the lexical-overlap twin of dense
# d6: documents sharing enough RARE vocabulary, weighted by how rare).
# Classic sparse-vector similarity join: per-(doc, term) sublinear-tf ×
# idf weights, posting-list self-join on term, per-pair dot accumulation.
# Two scale disciplines do the heavy lifting:
# - the df window on terms — a term in more than min(frac·N, ABS) docs
#   generates O(df²) pair fragments, so stopword-frequency terms are
#   excluded BEFORE the join (d3/d5's bucket guard, applied to postings);
# - weights quantize to int64 (round((1+ln tf)·ln(N/df) · 1e4)), so the
#   per-pair dot and the per-doc norms are EXACT integer sums — the
#   quantized cosine is a deterministic value on any layout/engine, not a
#   float-accumulation accident.
def d17_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_neo4j_spark.operators.text import _exploded_tokens

    tok = _exploded_tokens(spark, sf_dir)
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = tok.agg(F.count_distinct("doc_id").alias("n_docs"))
    kept = (
        df.crossJoin(F.broadcast(total))
        .filter(
            (F.col("df") >= SPARSE_MIN_DF)
            & (
                F.col("df")
                <= F.least(
                    SPARSE_MAXDF_FRAC * F.col("n_docs"),
                    F.lit(SPARSE_MAXDF_ABS),
                )
            )
        )
        .select("term", "df", "n_docs")
    )
    w = tf.join(kept, "term").select(
        "doc_id",
        "term",
        F.round(
            (1.0 + F.log(F.col("tf").cast("double")))
            * F.log(F.col("n_docs").cast("double") / F.col("df"))
            * SPARSE_SCALE
        )
        .cast("long")
        .alias("wq"),
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("wq") * F.col("wq")).alias("n2")
    )
    a = w.select(
        F.col("doc_id").alias("a_id"), "term", F.col("wq").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("b_id"), "term", F.col("wq").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("a_id"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("b_id"), F.col("n2").alias("nb2"))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double"))
        * F.sqrt(F.col("nb2").cast("double"))
    )
    return (
        dots.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id", "b_id", (F.round(cos, 4) + F.lit(0.0)).alias("cos")
        )
        .filter(F.col("cos") >= SPARSE_COS)
        .orderBy("a_id", "b_id")
    )


#: d18 span-detection knobs: gram width, max postings per gram (the
#: boilerplate guard — a gram in more than this many positions corpus-wide
#: is template text and would go quadratic), and the minimum run length
#: (in grams) that counts as a copied span.
SPAN_GRAM = 8
SPAN_MAX_POSTINGS = 50
SPAN_MIN_GRAMS = 13


# d18 — matching-SPAN detection (plagiarism / quotation localization):
# not just WHICH documents share text (d5/d13) but WHERE — the exact
# copied character ranges in both documents. Classic diagonal-run method:
# position-aware char-gram postings, equi-join on the gram, then
# consecutive matches on one DIAGONAL (pa − pb constant) collapse into
# islands via the pa − row_number() run trick — a window over
# (pair, diag), no self-join of matches. The postings cap excises
# template text BEFORE the join (the d3/d17 guard, position-aware form);
# past it, cost is (shared-span length × pairs), not corpus².
def d18_match_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallelize_for_compute(
        load_table(spark, sf_dir, "documents")
    ).filter(F.length("text") >= SPAN_GRAM)
    grams = d.selectExpr(
        "doc_id",
        f"posexplode(transform(sequence(1, length(text) - {SPAN_GRAM} + 1),"
        f" i -> substring(lower(text), i, {SPAN_GRAM}))) AS (p0, g)",
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "g")
    # Guard + materialize the postings in ONE gram pass: the postings cap
    # is a count window over the same g-shuffle the postings need anyway
    # (vs the old separate count-aggregate joined back — an extra shuffle
    # and, because both consumers re-derived `grams`, THREE full corpus
    # shingle passes: 8 parquet scans / 16 exchanges in the r3 plan
    # audit). The localCheckpoint then feeds both sides of the pair join
    # from the materialized frame — the _cust_part_projection
    # double-consumption fix (graph_algos.py). Measured at sf0.1:
    # 1.84 s → 1.43 s for the postings phase, one corpus pass total.
    p = (
        grams.withColumn(
            "c", F.count("*").over(Window.partitionBy("g"))
        )
        .filter(F.col("c") <= SPAN_MAX_POSTINGS)
        .drop("c")
        .localCheckpoint()
    )
    a = p.select(
        F.col("doc_id").alias("a_id"), F.col("pos").alias("pa"), "g"
    )
    b = p.select(
        F.col("doc_id").alias("b_id"), F.col("pos").alias("pb"), "g"
    )
    pairs = (
        a.join(b, "g")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("a_id", "b_id", "diag").orderBy("pa")
    runs = pairs.withColumn("run", F.col("pa") - F.row_number().over(w))
    return (
        runs.groupBy("a_id", "b_id", "diag", "run")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            F.count("*").alias("n_grams"),
            (F.max("pa") - F.min("pa") + SPAN_GRAM).alias("span_len"),
        )
        .filter(F.col("n_grams") >= SPAN_MIN_GRAMS)
        .select("a_id", "b_id", "a_start", "b_start", "span_len", "n_grams")
        .orderBy("a_id", "b_id", "a_start")
    )


QUERIES: dict[str, QueryFn] = {
    "d18_match_spans": d18_match_spans,
    "d17_sparse_cosine": d17_sparse_cosine,
    "d16_priority_dedup": d16_priority_dedup,
    "d1_exact_dedup": d1_exact_dedup,
    "d15_normalized_dedup": d15_normalized_dedup,
    "d2_minhash_signature": d2_minhash_signature,
    "d3_minhash_near_dup": d3_minhash_near_dup,
    "d4_simhash": d4_simhash,
    "d5_ngram_jaccard": d5_ngram_jaccard,
    "d6_embedding_near_dup": d6_embedding_near_dup,
    "d7_dedup_clusters": d7_dedup_clusters,
    "d8_edit_distance": d8_edit_distance,
    "d9_decontaminate": d9_decontaminate,
    "d12_semantic_dedup": d12_semantic_dedup,
    "d13_containment": d13_containment,
    "d14_simhash_hamming": d14_simhash_hamming,
    "d10_lsh_banded": d10_lsh_banded,
    "d11_chunk_dedup": d11_chunk_dedup,
}


def _duck_minhash_aggs() -> str:
    return ", ".join(
        f"list_min([md5('{s}|' || x) for x in sh]) AS h{s}" for s in MINHASH_SEEDS
    )


_DUCK_SIMHASH_BITS = ", ".join(
    f"CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) >= 0 "
    f"THEN {1 << b} ELSE 0 END AS b{b}"
    for b in range(16)
)
_DUCK_SIMHASH_SUM = " + ".join(f"b{b}" for b in range(16))

def _d12_oracle() -> str:
    from flink_neo4j_spark.operators.similarity import _DUCK_SIG, _duck_cos

    return f"""
        WITH RECURSIVE
        e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        e AS (SELECT vec_id, emb, {_DUCK_SIG} AS sig FROM e0),
        pairs AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id
          FROM e a JOIN e b ON a.sig = b.sig AND a.vec_id < b.vec_id
          WHERE ROUND({_duck_cos("a.emb", "b.emb")}, 4) >= {SEM_COS_THRESHOLD}),
        und AS (SELECT a_id AS a, b_id AS b FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        comp AS (
          SELECT v.vec_id,
                 LEAST(v.vec_id, COALESCE(MIN(r.b), v.vec_id)) AS comp
          FROM embeddings v LEFT JOIN reach r ON r.a = v.vec_id
          GROUP BY v.vec_id)
        SELECT vec_id, comp, vec_id = comp AS is_kept
        FROM comp ORDER BY vec_id"""


def _d17_oracle() -> str:
    from flink_neo4j_spark.operators.text import DUCK_TOKENS

    return f"""
        WITH tok AS (
          SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM tok
          GROUP BY doc_id, term),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        total AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
        kept AS (
          SELECT term, df, n_docs FROM df, total
          WHERE df >= {SPARSE_MIN_DF}
            AND df <= LEAST({SPARSE_MAXDF_FRAC} * n_docs,
                            {SPARSE_MAXDF_ABS})),
        w AS (
          SELECT tf.doc_id, tf.term,
                 CAST(ROUND((1.0 + ln(CAST(tf AS DOUBLE)))
                      * ln(CAST(n_docs AS DOUBLE) / df)
                      * {SPARSE_SCALE}) AS BIGINT) AS wq
          FROM tf JOIN kept ON tf.term = kept.term),
        norms AS (
          SELECT doc_id, SUM(wq * wq) AS n2 FROM w GROUP BY doc_id),
        dots AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 SUM(a.wq * b.wq) AS dot
          FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT a_id, b_id,
               ROUND(CAST(dot AS DOUBLE)
                     / (sqrt(CAST(na.n2 AS DOUBLE))
                        * sqrt(CAST(nb.n2 AS DOUBLE))), 4) + 0.0 AS cos
        FROM dots
        JOIN norms na ON na.doc_id = a_id
        JOIN norms nb ON nb.doc_id = b_id
        WHERE ROUND(CAST(dot AS DOUBLE)
                    / (sqrt(CAST(na.n2 AS DOUBLE))
                       * sqrt(CAST(nb.n2 AS DOUBLE))), 4) + 0.0
              >= {SPARSE_COS}
        ORDER BY a_id, b_id"""


ORACLE: dict[str, str] = {
    "d18_match_spans": f"""
        WITH d AS (
          SELECT doc_id, lower(text) AS t, length(text) AS bl
          FROM documents WHERE length(text) >= {SPAN_GRAM}),
        g0 AS (
          SELECT doc_id, t,
                 unnest(generate_series(1, bl - {SPAN_GRAM} + 1)) AS pos
          FROM d),
        g AS (
          SELECT doc_id, pos,
                 substring(t, CAST(pos AS INT), {SPAN_GRAM}) AS g
          FROM g0),
        kept AS (
          SELECT g FROM g GROUP BY g
          HAVING COUNT(*) <= {SPAN_MAX_POSTINGS}),
        p AS (SELECT g.* FROM g JOIN kept USING (g)),
        pr AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
          FROM p a JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id),
        runs AS (
          SELECT *, pa - ROW_NUMBER() OVER (PARTITION BY a_id, b_id, diag
                                            ORDER BY pa) AS run
          FROM pr)
        SELECT a_id, b_id,
               CAST(MIN(pa) AS BIGINT) AS a_start,
               CAST(MIN(pb) AS BIGINT) AS b_start,
               CAST(MAX(pa) - MIN(pa) + {SPAN_GRAM} AS BIGINT) AS span_len,
               CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM runs GROUP BY a_id, b_id, diag, run
        HAVING COUNT(*) >= {SPAN_MIN_GRAMS}
        ORDER BY a_id, b_id, a_start""",
    "d17_sparse_cosine": _d17_oracle(),
    "d16_priority_dedup": """
        WITH ranked AS (
          SELECT lang || '_' || CAST(CAST(FLOOR(n_chars / 100) AS INT) AS VARCHAR)
                   AS cluster,
                 doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang || '_'
                     || CAST(CAST(FLOOR(n_chars / 100) AS INT) AS VARCHAR)
                   ORDER BY CAST(regexp_extract(source, '(\\d+)$', 1) AS INT),
                            doc_id) AS rn
          FROM documents)
        SELECT cluster, doc_id AS keep_id, source
        FROM ranked WHERE rn = 1
        ORDER BY cluster""",
    "d12_semantic_dedup": _d12_oracle(),
    # keep-first-occurrence is expressed as a row_number window here — the
    # declarative twin of the engine's skew-safe min-struct aggregate.
    "d11_chunk_dedup": f"""
        WITH tokd AS (
          SELECT doc_id, {DUCK_TOKENS} AS tok FROM documents
          WHERE len({DUCK_TOKENS}) >= 1),
        chunks AS (
          SELECT doc_id, u.ci AS chunk_idx, u.c AS chunk
          FROM (
            SELECT doc_id,
                   unnest([{{'ci': i, 'c': array_to_string(
                       tok[i * {CHUNK_TOKENS} + 1 : i * {CHUNK_TOKENS} + {CHUNK_TOKENS}],
                       ' ')}}
                     for i in generate_series(
                       0, CAST(ceil(len(tok) / {CHUNK_TOKENS}.0) AS INT) - 1)]) AS u
            FROM tokd)),
        ranked AS (
          SELECT doc_id, chunk_idx, chunk,
                 ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                    ORDER BY doc_id, chunk_idx) AS rn
          FROM chunks)
        SELECT doc_id,
               COUNT(*) AS n_chunks,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                                   ORDER BY chunk_idx), '') AS dedup_text
        FROM ranked GROUP BY doc_id ORDER BY doc_id""",
    "d8_edit_distance": f"""
        WITH d0 AS (
          SELECT doc_id,
                 substring(lower(text), 1, 200) AS t,
                 substring(lower(text), 1, 16) AS blk
          FROM documents),
        d AS (SELECT * FROM d0 WHERE blk IN (
            SELECT blk FROM d0 GROUP BY blk HAVING COUNT(*) <= {NEAR_DUP_MAX_BUCKET}))
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               levenshtein(a.t, b.t) AS dist
        FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.t, b.t) <= 40
        ORDER BY a_id, b_id""",
    "d1_exact_dedup": """
        SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text) ORDER BY keep_id""",
    "d15_normalized_dedup": """
        WITH canon AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
                   AS c
          FROM documents)
        SELECT md5(c) AS fp, MIN(doc_id) AS keep_id,
               COUNT(*) AS n_variants
        FROM canon GROUP BY md5(c) ORDER BY keep_id""",
    "d9_decontaminate": f"""
        {_DUCK_SHINGLED},
        ex AS (SELECT doc_id, unnest(sh) AS sg FROM s),
        bench_keys AS (
          SELECT sg FROM ex WHERE doc_id % 20 = 0
          GROUP BY sg HAVING COUNT(DISTINCT doc_id) <= {CONTAM_MAX_DF}),
        train AS (
          SELECT DISTINCT doc_id, sg FROM ex WHERE doc_id % 20 <> 0)
        SELECT doc_id, COUNT(*) AS n_shared
        FROM train JOIN bench_keys USING (sg)
        GROUP BY doc_id ORDER BY doc_id""",
    "d10_lsh_banded": f"""
        {_DUCK_SHINGLED},
        sig AS (SELECT doc_id, sh, {_duck_minhash_aggs()} FROM s),
        banded0 AS (
          {" UNION ALL ".join(
              f"SELECT doc_id, {b} AS band, "
              f"md5(h{b * LSH_ROWS} || '|' || h{b * LSH_ROWS + 1}) AS bkey FROM sig"
              for b in range(LSH_BANDS)
          )}),
        ok AS (SELECT band, bkey FROM banded0
               GROUP BY band, bkey HAVING COUNT(*) <= {NEAR_DUP_MAX_BUCKET}),
        banded AS (SELECT doc_id, band, bkey FROM banded0
                   JOIN ok USING (band, bkey)),
        cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        scored AS (
          SELECT a_id, b_id,
                 ROUND(len(list_intersect(sa.sh, sb.sh)) * 1.0
                       / (len(sa.sh) + len(sb.sh)
                          - len(list_intersect(sa.sh, sb.sh))), 4) AS jac
          FROM cand
          JOIN sig sa ON sa.doc_id = cand.a_id
          JOIN sig sb ON sb.doc_id = cand.b_id)
        SELECT a_id, b_id, jac FROM scored
        WHERE jac >= {JACCARD_THRESHOLD}
        ORDER BY a_id, b_id""",
    "d2_minhash_signature": f"""
        {_DUCK_SHINGLED}
        SELECT doc_id, {_duck_minhash_aggs()}
        FROM s ORDER BY doc_id""",
    "d3_minhash_near_dup": f"""
        {_DUCK_SHINGLED},
        banded AS (SELECT doc_id, sh, list_min([md5('0|' || x) for x in sh]) AS h0 FROM s),
        kept AS (SELECT * FROM banded WHERE h0 IN (
            SELECT h0 FROM banded GROUP BY h0 HAVING COUNT(*) <= {NEAR_DUP_MAX_BUCKET}))
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                     (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jac
        FROM kept a JOIN kept b ON a.h0 = b.h0 AND a.doc_id < b.doc_id
        WHERE ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
              >= {JACCARD_THRESHOLD}
        ORDER BY a_id, b_id""",
    "d4_simhash": f"""
        WITH toks AS (
          SELECT doc_id,
                 CAST('0x' || substring(md5(tok), 1, 4) AS INT) AS h
          FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents)
        ), bits AS (
          SELECT doc_id, {_DUCK_SIMHASH_BITS} FROM toks GROUP BY doc_id
        )
        SELECT doc_id, {_DUCK_SIMHASH_SUM} AS simhash FROM bits ORDER BY doc_id""",
    "d14_simhash_hamming": f"""
        WITH toks AS (
          SELECT doc_id,
                 CAST('0x' || substring(md5(tok), 1, 4) AS INT) AS h
          FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents)
        ), bits AS (
          SELECT doc_id, {_DUCK_SIMHASH_BITS} FROM toks GROUP BY doc_id
        ), sig AS (
          SELECT doc_id, {_DUCK_SIMHASH_SUM} AS simhash FROM bits
        ), bands AS (
          SELECT doc_id, simhash, b.band,
                 (simhash >> ({SIMHASH_BAND_BITS} * b.band))
                   % {1 << SIMHASH_BAND_BITS} AS key
          FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) b
        ), kept AS (
          SELECT * FROM bands WHERE (band, key) IN (
            SELECT (band, key) FROM bands GROUP BY band, key
            HAVING COUNT(*) <= {NEAR_DUP_MAX_BUCKET})
        ), cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                          a.simhash AS sa, b.simhash AS sb
          FROM kept a JOIN kept b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        )
        SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= {HAM_K}
        ORDER BY a_id, b_id""",
    "d13_containment": f"""
        WITH normd AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')) AS norm
          FROM documents
        ), grams AS (
          SELECT doc_id,
                 list_distinct([substring(norm, i, 5)
                                for i in generate_series(1, greatest(length(norm) - 4, 0))]) AS gr
          FROM normd
        ), g0 AS (
          SELECT doc_id, gr, list_min([md5('g|' || x) for x in gr]) AS h0
          FROM grams WHERE len(gr) > 0
        ), g AS (SELECT * FROM g0 WHERE h0 IN (
            SELECT h0 FROM g0 GROUP BY h0 HAVING COUNT(*) <= {NEAR_DUP_MAX_BUCKET})
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               ROUND(len(list_intersect(a.gr, b.gr)) * 1.0 /
                     least(len(a.gr), len(b.gr)), 4) AS cont
        FROM g a JOIN g b ON a.h0 = b.h0 AND a.doc_id < b.doc_id
        WHERE ROUND(len(list_intersect(a.gr, b.gr)) * 1.0 /
                    least(len(a.gr), len(b.gr)), 4) >= {CONTAINMENT_THRESHOLD}
        ORDER BY a_id, b_id""",
    "d5_ngram_jaccard": f"""
        WITH normd AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')) AS norm
          FROM documents
        ), grams AS (
          SELECT doc_id,
                 list_distinct([substring(norm, i, 5)
                                for i in generate_series(1, greatest(length(norm) - 4, 0))]) AS gr
          FROM normd
        ), g0 AS (
          SELECT doc_id, gr, list_min([md5('g|' || x) for x in gr]) AS h0
          FROM grams WHERE len(gr) > 0
        ), g AS (SELECT * FROM g0 WHERE h0 IN (
            SELECT h0 FROM g0 GROUP BY h0 HAVING COUNT(*) <= {NEAR_DUP_MAX_BUCKET})
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               ROUND(len(list_intersect(a.gr, b.gr)) * 1.0 /
                     (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))), 4) AS jac
        FROM g a JOIN g b ON a.h0 = b.h0 AND a.doc_id < b.doc_id
        WHERE ROUND(len(list_intersect(a.gr, b.gr)) * 1.0 /
                    (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))), 4)
              >= {JACCARD_THRESHOLD}
        ORDER BY a_id, b_id""",
    # transitive closure of the near-dup pair graph via recursive CTE, then
    # min reachable id (∪ self) per doc = the cluster canonical.
    "d7_dedup_clusters": f"""
        {_DUCK_SHINGLED.replace("WITH ", "WITH RECURSIVE ", 1)},
        banded AS (SELECT doc_id, sh, list_min([md5('0|' || x) for x in sh]) AS h0 FROM s),
        kept AS (SELECT * FROM banded WHERE h0 IN (
            SELECT h0 FROM banded GROUP BY h0 HAVING COUNT(*) <= {NEAR_DUP_MAX_BUCKET})),
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM kept a JOIN kept b ON a.h0 = b.h0 AND a.doc_id < b.doc_id
          WHERE ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
                >= {JACCARD_THRESHOLD}),
        und AS (SELECT a_id AS a, b_id AS b FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        comp AS (
          SELECT d.doc_id,
                 LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS comp
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id)
        SELECT doc_id, comp, doc_id = comp AS is_kept
        FROM comp ORDER BY doc_id""",
    "d6_embedding_near_dup": f"""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               ROUND(list_sum(list_transform(list_zip(a.emb, b.emb),
                                             p -> p[1] * p[2])) /
                     (sqrt(list_sum([x * x for x in a.emb])) *
                      sqrt(list_sum([x * x for x in b.emb]))), 4) AS cos
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ROUND(list_sum(list_transform(list_zip(a.emb, b.emb),
                                            p -> p[1] * p[2])) /
                    (sqrt(list_sum([x * x for x in a.emb])) *
                     sqrt(list_sum([x * x for x in b.emb]))), 4) >= {COSINE_THRESHOLD}
        ORDER BY a_id, b_id""",
}


#: d19 split fractions in 16ths of the md5 nibble space: 0-11 train (75%),
#: 12-13 val (12.5%), 14-15 test (12.5%).
SPLIT_SEED = "split0"
SPLIT_TRAIN_MAX = 11
SPLIT_VAL_MAX = 13


# D19 — leakage-safe train/val/test split: assign every document to a
# split by hashing its NEAR-DUP CLUSTER id (d7's connected component),
# never the doc itself — so two near-duplicate documents can never land in
# different splits and leak training content into eval (the
# contamination mode test-set decontamination (d9) cannot catch, because
# both copies are in-corpus). The hash is a seeded md5 (q24's
# rand()-free discipline: stable across engines, retries, partitionings);
# fractions come from the first hex nibble. One extra narrow map over
# d7's per-doc cluster frame — the CC is the expensive part and it is
# shared/memoized; the split adds no shuffle beyond d7's own.
def d19_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the memoized fixpoint directly — d7's presentation ORDER BY would be
    # a wasted range shuffle under this query's own final sort
    comp = _minhash_cc(spark, sf_dir).select(
        F.col("vid").alias("doc_id"), "comp"
    )
    nib = F.expr(
        f"CAST(conv(substring(md5(concat('{SPLIT_SEED}|', "
        "CAST(comp AS STRING))), 1, 1), 16, 10) AS INT)"
    )
    return comp.select(
        "doc_id",
        "comp",
        F.when(nib <= SPLIT_TRAIN_MAX, "train")
        .when(nib <= SPLIT_VAL_MAX, "val")
        .otherwise("test")
        .alias("split"),
    ).orderBy("doc_id")


QUERIES["d19_leakage_safe_split"] = d19_leakage_safe_split
ORACLE["d19_leakage_safe_split"] = f"""
    WITH comp_base AS MATERIALIZED ({ORACLE['d7_dedup_clusters']})
    SELECT doc_id, comp,
           CASE WHEN nib <= {SPLIT_TRAIN_MAX} THEN 'train'
                WHEN nib <= {SPLIT_VAL_MAX} THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, comp,
                 CAST('0x' || substring(
                     md5('{SPLIT_SEED}|' || CAST(comp AS VARCHAR)), 1, 1)
                   AS INT) AS nib
          FROM comp_base)
    ORDER BY doc_id"""


# D20 — dedup QA report: the dataset-card view of what near-dup clustering
# actually bought. Joins d7's cluster assignment back to the document
# dimension and reports, per multi-doc cluster: member count, distinct
# sources spanned, total bytes, canonical-copy bytes, and bytes saved by
# keeping only the canonical doc — the numbers a curation run publishes
# before anyone signs off on deleting 40% of a crawl. Plan shape: d7's
# fixpoint output (doc_id, comp) is ids-only; ONE equi-join re-attaches the
# (source, n_chars) attributes and ONE partial-aggregated groupBy(comp)
# produces the report — no text ever moves, so the QA pass costs two narrow
# shuffles on top of the clustering it audits.
def d20_dedup_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the memoized fixpoint directly (d7's ORDER BY is destroyed by the
    # groupBy below anyway)
    cl = _minhash_cc(spark, sf_dir).select(
        F.col("vid").alias("doc_id"), "comp"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return (
        cl.join(docs, "doc_id")
        .groupBy(F.col("comp").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(
                F.when(F.col("doc_id") == F.col("comp"), F.col("n_chars"))
                .otherwise(F.lit(0))
            ).alias("kept_chars"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            "cluster_id",
            "n_docs",
            "n_sources",
            "total_chars",
            "kept_chars",
            (F.col("total_chars") - F.col("kept_chars")).alias("chars_saved"),
        )
        .orderBy(F.col("chars_saved").desc(), "cluster_id")
    )


# D21 — end-to-end corpus curation: the four-stage funnel every pretraining
# pipeline runs, composed as ONE auditable query — per input doc it emits
# the decision at every stage, not just the survivors, because "why did we
# drop 60%?" is the first question a data audit asks.
#   1. quality gate: token-count band + alphabetic-character ratio (the
#      compact core of the t21 scorecard); the ratio test is the integer
#      cross-multiplication alpha*100 >= CUR_MIN_ALPHA_PCT*len so both
#      engines compare exact integers, never a float ratio;
#   2. exact dedup among quality passers (d1's md5 keep-first contract —
#      the 16-byte fingerprint shuffles, never the text);
#   3. benchmark decontamination (d9's contract: drop any doc sharing a
#      df-capped word-3-shingle with the held-out doc_id % 20 == 0 slice);
#   4. temperature mixing to a token budget over the survivors (q34's
#      alpha-weighted rates + the deterministic md5-uniform keep).
# Plan shape at 100 TB: ONE materialized pass computes (n_tok, q_ok, fp)
# per doc; the winner election is a partial-agg groupBy on fp; the
# decontamination reuses the memoized shingle table and joins ids only;
# the mixing rates reduce to a per-source broadcast. No stage shuffles
# document text, and every stage's flag is a deterministic integer/hash
# computation — the full funnel hash-matches DuckDB end to end.
CUR_MIN_TOK = 5
CUR_MAX_TOK = 2000
CUR_MIN_ALPHA_PCT = 55
CUR_TEMP = 0.5
CUR_TARGET_FRAC = 0.5
_CUR_U24 = float(1 << 24)


def d21_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = documents_for_compute(spark, sf_dir)
    # two-step projection so the tokenize pass runs ONCE (a sibling alias
    # can't be referenced inside one selectExpr, and inlining TOKENS_EXPR
    # into both n_tok and q_ok would evaluate the split twice per row)
    base = _materialized(
        d.filter(F.col("doc_id") % 20 != 0)
        .selectExpr(
            "doc_id",
            "source",
            "text",
            f"CAST(size({TOKENS_EXPR}) AS BIGINT) AS n_tok",
        )
        .selectExpr(
            "doc_id",
            "source",
            "n_tok",
            "md5(text) AS fp",
            f"(n_tok BETWEEN {CUR_MIN_TOK} AND {CUR_MAX_TOK})"
            f" AND length(regexp_replace(lower(text), '[^a-z]', '')) * 100"
            f"     >= {CUR_MIN_ALPHA_PCT} * length(text) AS q_ok",
        )
    )
    winners = (
        base.filter(F.col("q_ok"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    # decontamination ids (d9 semantics): the memoized per-doc match-count
    # table's key set IS the contaminated id set — a doc appears there iff
    # it shares at least one df-capped shingle with the benchmark slice
    contam = (
        _decontam_counts(spark, sf_dir)
        .select("doc_id")
        .withColumn("contam", F.lit(True))
    )
    flagged = (
        base.join(winners, "fp", "left")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_tok",
            "q_ok",
            (F.col("q_ok") & (F.col("doc_id") == F.col("keep_id"))).alias(
                "canon"
            ),
            F.col("contam").isNull().alias("clean"),
        )
        .withColumn("survivor", F.col("q_ok") & F.col("canon") & F.col("clean"))
    )
    src = (
        flagged.filter(F.col("survivor"))
        .groupBy("source")
        .agg(F.sum("n_tok").alias("toks"))
    )
    tot = src.agg(
        F.sum(F.pow("toks", F.lit(CUR_TEMP))).alias("wsum"),
        F.sum("toks").alias("tot_toks"),
    )
    rates = src.crossJoin(F.broadcast(tot)).select(
        "source",
        (
            F.round(
                F.least(
                    F.lit(1.0),
                    F.pow("toks", F.lit(CUR_TEMP))
                    / F.col("wsum")
                    * (F.lit(CUR_TARGET_FRAC) * F.col("tot_toks"))
                    / F.col("toks"),
                )
                + F.lit(5e-10),
                6,
            )
            + F.lit(0.0)
        ).alias("src_rate"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cur|"), F.col("doc_id").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(_CUR_U24)
    )
    return (
        flagged.join(F.broadcast(rates), "source", "left")
        .select(
            "doc_id",
            "source",
            "q_ok",
            "canon",
            "clean",
            F.when(F.col("survivor"), F.col("src_rate"))
            .otherwise(F.lit(0.0))
            .alias("rate"),
            (F.col("survivor") & (u < F.col("src_rate"))).alias("kept"),
        )
        .orderBy("doc_id")
    )


QUERIES["d20_dedup_qa"] = d20_dedup_qa
QUERIES["d21_curation_pipeline"] = d21_curation_pipeline

ORACLE["d20_dedup_qa"] = f"""
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN cl.doc_id = cl.comp THEN d.n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars,
           CAST(SUM(d.n_chars)
                - SUM(CASE WHEN cl.doc_id = cl.comp THEN d.n_chars ELSE 0 END)
                AS BIGINT) AS chars_saved
    FROM (SELECT comp AS cluster_id, doc_id, comp
          FROM ({ORACLE['d7_dedup_clusters']})) cl
    JOIN documents d USING (doc_id)
    GROUP BY cluster_id
    HAVING COUNT(*) >= 2
    ORDER BY chars_saved DESC, cluster_id"""

ORACLE["d21_curation_pipeline"] = f"""
    {_DUCK_SHINGLED},
    base AS MATERIALIZED (
      SELECT doc_id, source,
             CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tok,
             md5(text) AS fp,
             (CAST(len({DUCK_TOKENS}) AS BIGINT)
                BETWEEN {CUR_MIN_TOK} AND {CUR_MAX_TOK})
             AND length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 100
                 >= {CUR_MIN_ALPHA_PCT} * length(text) AS q_ok
      FROM documents WHERE doc_id % 20 != 0),
    winners AS (
      SELECT fp, MIN(doc_id) AS keep_id FROM base WHERE q_ok GROUP BY fp),
    ex AS (SELECT doc_id, unnest(sh) AS sg FROM s),
    bench_keys AS (
      SELECT sg FROM ex WHERE doc_id % 20 = 0
      GROUP BY sg HAVING COUNT(DISTINCT doc_id) <= {CONTAM_MAX_DF}),
    contam AS (
      SELECT DISTINCT ex.doc_id FROM ex JOIN bench_keys USING (sg)
      WHERE ex.doc_id % 20 != 0),
    flagged AS (
      SELECT b.doc_id, b.source, b.n_tok, b.q_ok,
             b.q_ok AND b.doc_id = w.keep_id AS canon,
             c.doc_id IS NULL AS clean,
             (b.q_ok AND b.doc_id = w.keep_id AND c.doc_id IS NULL)
               AS survivor
      FROM base b
      LEFT JOIN winners w USING (fp)
      LEFT JOIN contam c ON b.doc_id = c.doc_id),
    src AS (SELECT source, SUM(n_tok) AS toks FROM flagged
            WHERE survivor GROUP BY source),
    tot AS (SELECT SUM(pow(toks, {CUR_TEMP})) AS wsum,
                   SUM(toks) AS tot_toks FROM src),
    rates AS (
      SELECT source,
             round(least(1.0, pow(toks, {CUR_TEMP}) / wsum
                              * ({CUR_TARGET_FRAC} * tot_toks) / toks)
                   + 5e-10, 6) + 0.0 AS src_rate
      FROM src, tot)
    SELECT f.doc_id, f.source, f.q_ok, f.canon, f.clean,
           CASE WHEN f.survivor THEN r.src_rate ELSE 0.0 END AS rate,
           f.survivor AND
             ('0x' || substring(md5('cur|' || CAST(f.doc_id AS VARCHAR)), 1, 6))
               ::BIGINT / {_CUR_U24} < r.src_rate AS kept
    FROM flagged f LEFT JOIN rates r USING (source)
    ORDER BY f.doc_id"""
