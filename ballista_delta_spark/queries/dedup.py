"""Deduplication operators — training-data pipeline extensions beyond the
reference surface (SURVEY.md §7 phase E). The reference has no dedup ops;
these are the standard large-corpus family: exact, MinHash+LSH, SimHash,
n-gram Jaccard, and embedding-cosine near-dup.

Engine-portable hashing: every hash here is ``first 8 hex chars of md5 as
a bigint`` — identical in Spark (``conv(substring(md5(x),1,8),16,10)``)
and DuckDB (``('0x'||substr(md5(x),1,8))::BIGINT``) — so the oracles are
exact integer comparisons. Spark's ``xxhash64`` and DuckDB's ``hash()``
would be faster but engine-specific; at production scale you'd swap one
line to use ``F.xxhash64``.

Scale design (the part that matters at 100 TB):
- Shingling / signatures are higher-order array functions computed in a
  single narrow pass (no explode until the inverted-index step).
- Candidate generation is always *blocked*: LSH bands (MinHash), 8-bit
  bands (SimHash), or a shared-shingle inverted index (Jaccard) — never an
  all-pairs cross join. Pair enumeration shuffles on the block key; the
  final verify joins only the candidate set.
- Hot-key guard: shingles occurring in more than ``_SHINGLE_DF_CAP`` docs
  are dropped from the inverted index (a stopword-shingle appearing in 1M
  docs would otherwise create a quadratic join blow-up); the cap is applied
  identically in the oracle so results stay comparable.
- The only intentionally-brute op is ``dedup_embedding_cosine`` below the
  blocked variants — see similarity.py for the LSH-bucketed scale path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._registry import make_registry
from ._tables import load, spread_width

QUERIES: dict = {}
_q = make_registry(QUERIES)

_WS_SQL = r"\\s+"  # inside Spark SQL string literals ('\s+' in DuckDB)
_P = 2_038_074_743  # prime modulus < 2^31 for the MinHash permutations
_K = 16  # MinHash signature length
_BANDS_W = (1, 31, 961, 29791)  # 31^i weights combining 4 rows into a band sig
_SHINGLE_DF_CAP = 100  # drop shingles present in more docs than this


# ---------------------------------------------------------------- helpers
def _shingle_spread(spark: SparkSession, sf_dir: str) -> int | None:
    """Target partition count for the shingling pass — the documents
    instance of the shared driver-side layout heuristic (see
    ``_tables.spread_width``)."""
    return spread_width(spark, sf_dir, "documents")


def _shingles_spark(
    spark: SparkSession, sf_dir: str, repartition: int | None = None
) -> DataFrame:
    """(doc_id, shingle): distinct 3-token shingles per document, as
    md5-derived BIGINT hashes.

    Shingling is a higher-order transform over the split array — one
    codegen'd pass, the explode happens only when building the inverted
    index. The index carries 8-byte HASHES, not shingle strings: every
    downstream shuffle/join/array op moves longs instead of ~30-byte
    text (at 100 TB the inverted index IS the shuffle payload), and the
    oracle computes the identical hash so comparisons stay exact. Docs
    with <3 tokens are excluded (no shingle exists).
    """
    d = load(spark, sf_dir, "documents")
    if repartition:
        d = d.repartition(repartition)
    return (
        d.withColumn("toks", F.split("text", r"\s+"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(transform(sequence(0, size(toks)-3),"
                        " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])),"
                        " s -> CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT))"
                    )
                )
            ).alias("shingle"),
        )
    )


# DuckDB mirror of _shingles_spark (1-based list indexing; range() is
# end-exclusive, so range(1, len-1) = 1..len-2 and toks[i+2] stays in range).
_SHINGLES_ORACLE = r"""
    sh AS (
      SELECT doc_id, unnest(list_distinct(
               [('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
                          1, 8))::BIGINT
                FOR i IN range(1, len(toks) - 1)])) AS shingle
      FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
            FROM documents)
      WHERE len(toks) >= 3)
"""

# Inverted index with the hot-shingle cap applied.
_CAPPED_SH_ORACLE = f"""
    capped AS (
      SELECT doc_id, shingle FROM sh
      QUALIFY count(*) OVER (PARTITION BY shingle) <= {_SHINGLE_DF_CAP})
"""


def _capped_shingles(sh: DataFrame) -> DataFrame:
    """Drop hot shingles (document frequency > cap) with a count window
    over the shingle partition: ONE evaluation of the exploded index and
    one shuffle. (The tempting alternative — broadcast ANTI join against
    the hot set — avoids the sort but re-evaluates the shingling scan
    twice, one per join branch; measured slower at sf0.1. Distinct
    shingles are mostly unique, so map-side combine buys the groupBy
    little.)"""
    return sh.withColumn(
        "_df", F.count("*").over(Window.partitionBy("shingle"))
    ).filter(F.col("_df") <= _SHINGLE_DF_CAP).drop("_df")


def _jaccard_pairs(sh: DataFrame) -> DataFrame:
    """Candidate pairs from the shared-shingle inverted index + exact
    Jaccard. Shuffles on `shingle` (the blocking key), then on the pair.

    The shingle table feeds THREE branches (both sides of the capped
    self-join + the sizes relation): materialize it once or Catalyst
    re-runs the md5 shingling scan per branch (observed: 4 corpus scans
    in dedup_ngram_jaccard's final plan — the same lesson the minhash
    signature table learned in r3). Production shape: the inverted index
    is built once and persisted; the checkpoint is its local analogue."""
    return _pair_overlap(sh).select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_common")
            / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")),
            4,
        ).alias("jaccard"),
    )


def _pair_overlap(sh: DataFrame) -> DataFrame:
    """The ONE pair-generation shape under every shingle-overlap metric
    (Jaccard in _jaccard_pairs, containment in dedup_containment):
    checkpoint the shingle table (it feeds three branches), build the
    capped inverted-index self-join, count shared shingles per pair, and
    join both sides' sizes. Returns doc_a, doc_b, n_common plus the
    aliased sa.n_sh / sb.n_sh columns for the caller's projection — a
    hot-key or checkpoint-strategy fix lands in every metric at once."""
    sh = sh.localCheckpoint(eager=False)
    capped = _capped_shingles(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = capped.alias("a")
    b = capped.alias("b")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
    )



_JACCARD_PAIRS_ORACLE = f"""
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jac AS (
      SELECT doc_a, doc_b,
             round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
      FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id)
"""


# ---------------------------------------------------------- dedup_exact
# Exact dedup: hash-groupBy on md5(text); representative = min doc_id.
# One shuffle on the 128-bit hash (never on the full text — at 100 TB the
# shuffle payload is 16 bytes + ids per row, not documents).
@_q(
    "dedup_exact",
    """
    SELECT md5(text) AS text_md5,
           min(doc_id) AS rep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("rep_doc_id"), F.count("*").alias("n_copies")
    )


# -------------------------------------------------- dedup_ngram_jaccard
# Exact 3-gram Jaccard over the inverted index; near-dup threshold 0.8.
@_q(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLES_ORACLE}, {_CAPPED_SH_ORACLE}, {_JACCARD_PAIRS_ORACLE}
    SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_spark(spark, sf_dir)
    return _jaccard_pairs(sh).filter(F.col("jaccard") >= 0.8)


# The MinHash/banding candidate CTEs — ONE definition shared by the
# registered dedup_minhash_lsh oracle and every oracle that audits or
# composes it (dedup_lsh_recall, dedup_source_matrix,
# corpus_dedup_cascade): a banding change (K, weights, permutation
# constants) edited in one place cannot silently decouple the gate from
# the query it audits. Composes after sh/capped CTEs; ends without a
# trailing comma.
_LSH_CAND_ORACLE = f"""
    hk AS (
      SELECT doc_id, k,
             min(((2*k + 1) * shingle + 1299721*k) % {_P}) AS mh
      FROM sh, unnest(range(0, {_K})) AS t(k)
      GROUP BY doc_id, k),
    bands AS (
      SELECT doc_id, k // 4 AS band,
             sum(mh * ([1,31,961,29791])[(k % 4) + 1]) AS bsig
      FROM hk GROUP BY doc_id, k // 4),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
"""


# ---------------------------------------------------- dedup_minhash_lsh
# MinHash signatures (K=16) + LSH banding (4 bands x 4 rows): candidates
# collide on a band signature; candidates are then verified with exact
# Jaccard >= 0.8. Both engines compute identical permutations
# h_k(x) = ((2k+1)*x + 1299721*k) mod P over the md5-derived shingle int,
# and combine each band's 4 rows into one bigint with 31^i weights — so
# the candidate set (not just the final answer) is engine-identical.
@_q(
    "dedup_minhash_lsh",
    f"""
    WITH {_SHINGLES_ORACLE}, {_CAPPED_SH_ORACLE}, {_JACCARD_PAIRS_ORACLE},
    {_LSH_CAND_ORACLE}
    SELECT jac.doc_a, jac.doc_b, jac.jaccard
    FROM jac JOIN cand ON jac.doc_a = cand.doc_a AND jac.doc_b = cand.doc_b
    WHERE jac.jaccard >= 0.8
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shingling is CPU-bound (an md5 per 3-gram per doc) and a small corpus
    # arrives as ONE input partition (single parquet file under
    # maxPartitionBytes), serializing the pass on one core (measured 1.1 s
    # single-task at sf0.1). Spread it to cluster width — safe HERE because
    # the checkpoint below guarantees the spread pass runs exactly once
    # (in _jaccard_pairs-style multi-branch plans the same repartition is
    # re-evaluated per branch and measured 10x slower). The guard is a
    # driver-side file-size heuristic (_shingle_spread) so an
    # already-well-partitioned 100 TB corpus keeps its layout; the old
    # ``sh.rdd.getNumPartitions()`` probe forced a full AQE plan→RDD
    # conversion per build (~1-3 s, ×4 under bench's warmup+median-of-3).
    sh = _shingles_spark(
        spark, sf_dir, repartition=_shingle_spread(spark, sf_dir)
    )
    # Signatures as a plain 16-way min AGGREGATE over the exploded hashed
    # index: min_k = min((2k+1)*h + 1299721k mod P) per doc. This stays
    # entirely inside whole-stage codegen and shuffles only partial-min
    # states (16 longs + a count per doc per partition). The earlier
    # higher-order-function form (array_min×16 over a let-bound array) was
    # interpreted expression evaluation — measured ~9s of the query at
    # sf0.1 vs ~2s for this shape. Same mh/bsig values — oracle unchanged.
    mins = [
        F.min(
            (F.lit(2 * k + 1).cast("bigint") * F.col("shingle")
             + F.lit(1299721 * k).cast("bigint")) % _P
        ).alias(f"mh{k}")
        for k in range(_K)
    ]
    # ONE pass builds the whole per-doc signature table: 16 MinHash mins
    # (over ALL shingles), the uncapped size, and the capped shingle array
    # (hot shingles nulled by the window df-count, skipped by collect_list).
    # localCheckpoint materializes it — the production shape is exactly
    # this: the signature table is computed once (often persisted to
    # storage) and then served to BOTH band-pair generation and verify.
    # Without it Catalyst re-derives the table from the raw corpus for
    # every join branch — the r3 plan ran the md5 shingling scan SIX times
    # (6 parquet scans, 0 reused exchanges; measured 2.7 s executing at
    # sf0.1 vs ~1.3 s with the checkpoint). Size: one ~1 KB row per doc —
    # executor-local storage, spill-safe, O(docs) not O(index).
    per_doc = (
        sh.withColumn(
            "_df", F.count("*").over(Window.partitionBy("shingle"))
        )
        .groupBy("doc_id")
        .agg(
            *mins,
            F.count(F.lit(1)).alias("n_sh"),
            F.collect_list(
                F.when(F.col("_df") <= _SHINGLE_DF_CAP, F.col("shingle"))
            ).alias("csh"),
        )
        .localCheckpoint(eager=False)
    )
    bsigs = [
        sum(
            F.col(f"mh{4 * band + j}") * F.lit(_BANDS_W[j]).cast("bigint")
            for j in range(4)
        ).alias(f"bsig{band}")
        for band in range(_K // 4)
    ]
    bands = per_doc.select("doc_id", *bsigs).select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"bsig{b}") for b in range(_K // 4)])).alias(
            "band", "bsig"
        ),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    # shuffle_hash keeps the band join a shuffled hash join over the
    # checkpointed table (AQE's broadcast conversion would be fine too now
    # that the input is materialized, but the shuffled form scales).
    cand = (
        a.hint("shuffle_hash").join(b, ["band", "bsig"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Verify: join the (small) candidate set back to the signature table's
    # capped arrays and intersect — no pair enumeration (the inverted-index
    # self-join form measured 18.8 s at sf0.1 producing identical numbers).
    # Numerator = |capped_a ∩ capped_b| (docs whose shingles are ALL hot
    # have an empty array -> n_common 0 -> filtered, same as the oracle's
    # no-shared-capped-shingle case); denominators use uncapped sizes.
    sides = {
        s: per_doc.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("csh").alias(f"sh_{s}"),
            F.col("n_sh").alias(f"n{s}"),
        )
        for s in ("a", "b")
    }
    return (
        cand.join(sides["a"], "doc_a")
        .join(sides["b"], "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .filter(F.col("n_common") > 0)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
        .select("doc_a", "doc_b", "jaccard")
    )


# -------------------------------------------------------- dedup_simhash
# 32-bit SimHash over distinct tokens, computed entirely with higher-order
# array functions (no explode, no shuffle for the signature pass): bit b is
# set iff more than half the token hashes have bit b set. Near-dup pairs
# block on 2 bands of 16 bits (65,536 values per band — round 1's 8-bit
# bands gave 256, which at 1e9 docs means ~N/256-row buckets and quadratic
# pair enumeration inside them) and keep hamming distance <= 3. Recall
# note, mirrored in the oracle: with 2 bands, hamming<=1 pairs are
# guaranteed a band collision; hamming 2-3 pairs whose differing bits straddle both
# halves can be missed — the standard LSH recall/cost trade.
_SIMHASH_ORACLE = r"""
    tokh AS (
      SELECT doc_id,
             list_transform(
               list_distinct(regexp_split_to_array(text, '\s+')),
               t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hs
      FROM documents),
    simh AS (
      SELECT doc_id,
             list_sum([CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) % 2 = 1))
                                 > len(hs)
                            THEN (1::BIGINT << b) ELSE 0 END
                       FOR b IN range(0, 32)]) AS simhash
      FROM tokh)
"""


@_q(
    "dedup_simhash",
    f"""
    WITH {_SIMHASH_ORACLE},
    bands AS (
      SELECT doc_id, simhash, band, (simhash >> (16 * band)) % 65536 AS bval
      FROM simh, unnest(range(0, 2)) AS t(band)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sim_a, b.simhash AS sim_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
    FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Signature as a codegen'd aggregate (same move as dedup_minhash_lsh):
    # explode the distinct token hashes once, then 32 sum(bit_b) columns +
    # a count in ONE groupBy — partial aggregation shuffles 33 longs per
    # doc per partition. The earlier higher-order-function form (32
    # interpreted filter passes over a let-bound array) measured ~3x
    # slower at sf0.1. Bit b of the simhash is set iff more than half the
    # token hashes have bit b set — identical to the oracle's algebra.
    tokh = d.select(
        "doc_id",
        F.explode(
            # distinct over token STRINGS then hash — the oracle's order
            # (list_transform over list_distinct); hashing first would
            # collapse md5-collided tokens differently.
            F.expr(
                f"transform(array_distinct(split(text, '{_WS_SQL}')),"
                " t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT))"
            )
        ).alias("h"),
    )
    bit_sums = [
        F.sum(F.expr(f"shiftright(h, {b}) % 2")).alias(f"s{b}") for b in range(32)
    ]
    per_doc = tokh.groupBy("doc_id").agg(*bit_sums, F.count(F.lit(1)).alias("n_h"))
    simh = per_doc.select(
        "doc_id",
        sum(
            F.when(
                2 * F.col(f"s{b}") > F.col("n_h"),
                F.lit(1 << b).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
            for b in range(32)
        ).alias("simhash"),
    )
    bands = simh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(1))).alias("band"),
    ).withColumn("bval", F.expr("shiftright(simhash, 16 * band) % 65536"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, ["band", "bval"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.expr("bit_count(sim_a ^ sim_b)").alias("hamming"),
    ).filter(F.col("hamming") <= 3)


# ---------------------------------------------- dedup_embedding_cosine
# Near-dup by embedding cosine >= 0.4, LSH-BLOCKED: candidates are pairs
# whose sign-LSH buckets (similarity.py planes) differ in at most 1 bit —
# each left row probes its own bucket plus the _EMB_N_PLANES single-bit-flip neighbors,
# an equi-join on (probe = bucket), never an all-pairs product. Round 1
# shipped this as a theta join a.vec_id < b.vec_id (BroadcastNestedLoopJoin,
# O(n^2) — a scale-killer the verdict flagged); the blocked form shuffles on
# the bucket key and enumerates only within-probe pairs. The oracle mirrors
# the blocking exactly (same planes, same probes), so results stay
# engine-identical; like all LSH this trades recall (bucket-distant pairs)
# for never touching N^2. Both engines fold dot products strictly
# left-to-right in double precision and round to 6 decimals pre-threshold.
# 8 planes = 256 buckets for the DEDUP blocking (vs 4 for the ANN top-k
# query, whose broadcast-side is tiny). Candidate volume scales as
# N^2 * (n_planes+1) / 2^n_planes with hamming-1 probing: at 4 planes that
# is ~1/3 of ALL pairs — barely blocking at all (measured 660k candidate
# pairs from 2,000 vectors); at 8 it is ~3.5%. The recall trade is the
# standard LSH one and the oracle mirrors the blocking exactly.
_EMB_N_PLANES = 8
# Built at import time (the registered oracle f-strings need the text),
# so the similarity import is NOT deferred — it is an honest module
# dependency (similarity imports nothing from dedup; no cycle).
from .similarity import lsh_bucket_expr as _lsh_bucket_expr  # noqa: E402

_EMB_BUCKET_SPARK = _lsh_bucket_expr(_EMB_N_PLANES, dialect="spark")
_EMB_BUCKET_DUCK = _lsh_bucket_expr(_EMB_N_PLANES, dialect="duckdb")
_PROBE_BITS = tuple(1 << k for k in range(_EMB_N_PLANES))


@_q(
    "dedup_embedding_cosine",
    f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE) AS emb,
             sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
                            FOR i IN range(1, len(embedding) + 1)])) AS nrm
      FROM embeddings),
    eb AS (SELECT vec_id, emb, nrm, {_EMB_BUCKET_DUCK} AS bucket FROM e),
    probes AS (
      SELECT vec_id, emb, nrm,
             unnest([bucket, {", ".join(f"xor(bucket, {b})" for b in _PROBE_BITS)}])
               AS probe
      FROM eb),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_sum([a.emb[i] * b.emb[i]
                             FOR i IN range(1, len(a.emb) + 1)])
                   / (a.nrm * b.nrm), 6) AS cos_sim
      FROM probes a JOIN eb b
        ON a.probe = b.bucket AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _fold, dot_expr

    # The norm and the bucket are per-vector folds (_fold, lsh_bucket_expr);
    # the 100k+-pair cosine below is the unrolled pair-loop kernel
    # (dot_expr).
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    e = e.withColumn("nrm", F.sqrt(F.expr(_fold("emb", "emb")))).withColumn(
        "bucket", F.expr(_EMB_BUCKET_SPARK)
    )
    probes = " , ".join(["bucket"] + [f"bucket ^ {b}" for b in _PROBE_BITS])
    a = e.withColumn("probe", F.explode(F.expr(f"array({probes})"))).alias("a")
    b = e.alias("b")
    cos = F.round(
        F.expr(dot_expr("a.emb", "b.emb")) / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    # Each qualifying pair differs from its match in exactly the flipped bit
    # (or none), so the probe join finds it exactly once — no distinct needed.
    return (
        a.join(
            b,
            (F.col("a.probe") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.4)
    )


# ------------------------------------------------------- dedup_clusters
# Connected components over the verified near-dup pairs — the step every
# dedup pipeline runs AFTER pair generation: pairs only say "a~b"; keeping
# one doc per duplicate GROUP needs the transitive closure (a~b, b~c =>
# {a,b,c} one cluster, canonical = min doc_id).
#
# Spark side: iterative min-label propagation — each round every vertex
# takes the min of its own label and its neighbors' labels (one join + one
# aggregate per round, all distributed), converging in diameter(G) rounds;
# near-dup graphs are overwhelmingly tiny stars/cliques, so 2-3 rounds.
# localCheckpoint truncates the growing lineage each round. At extreme
# scale the same loop runs with the large-star/small-star optimization
# (Kiveris et al.) — the round structure and convergence test stay as
# written. The oracle computes the identical fixpoint as a recursive-CTE
# transitive closure (exact, engine-independent).
_CC_MAX_ITERS = 20


def label_propagate_min(sym: DataFrame, max_iters: int = _CC_MAX_ITERS) -> DataFrame:
    """Min-label connected components over a symmetric edge list
    ``(src, dst)``; returns ``(doc_id, cluster_id)``. Library entry point —
    any near-dup pair set (minhash, simhash, embedding) can be clustered."""
    # Seed = round 1 for free: label(v) = min(v, min(neighbors)) directly
    # from the edge list (one aggregate, no join) — duplicate clusters are
    # overwhelmingly stars/cliques, which converge immediately from this.
    labels = (
        sym.groupBy(F.col("src").alias("doc_id"))
        .agg(F.least(F.first("src"), F.min("dst")).alias("cluster_id"))
        .localCheckpoint()
    )
    changed = None  # max_iters <= 0 must hit the documented raise below
    for _ in range(max_iters):
        msgs = (
            sym.join(labels, sym.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # ONE action per round: the checkpoint is LAZY, so the convergence
        # count below both materializes the round's labels (truncating
        # lineage) and reads off the changed-flag in the same job — no
        # separate checkpoint action, no second pass over the join
        # (pinned in tests/test_scale_plans.py::
        # test_label_propagation_is_one_action_per_round).
        new_labels = (
            labels.join(msgs, labels.doc_id == msgs.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("new_cluster_id"),
                (F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                 < F.col("cluster_id")).alias("__chg"),
            )
            .withColumnRenamed("new_cluster_id", "cluster_id")
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter("__chg").count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    else:
        # Exhausted max_iters with the last round still changing labels:
        # component diameter > max_iters, so long-chain clusters would be
        # silently SPLIT (diverging from the exact transitive closure).
        # Raise rather than return wrong clusters; callers with genuinely
        # deep graphs pass a larger max_iters (or switch to the
        # large-star/small-star variant noted above).
        raise RuntimeError(
            f"label propagation did not converge in {max_iters} rounds "
            f"({changed} labels still changing); component diameter exceeds "
            "max_iters — raise max_iters"
        )
    return labels


@_q(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_SHINGLES_ORACLE}, {_CAPPED_SH_ORACLE},
    {_JACCARD_PAIRS_ORACLE},
    edges AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.8),
    sym AS (SELECT doc_a AS src, doc_b AS dst FROM edges
            UNION SELECT doc_b AS src, doc_a AS dst FROM edges),
    reach(src, node) AS (
      SELECT src, src FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.node),
    labels AS (
      SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM labels
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        _jaccard_pairs(_shingles_spark(spark, sf_dir))
        .filter(F.col("jaccard") >= 0.8)
        .select("doc_a", "doc_b")
    )
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint()
    labels = label_propagate_min(sym)
    w = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id", "cluster_id", F.count(F.lit(1)).over(w).alias("cluster_size")
    )


# ------------------------------------------------- dedup_incremental
# The PRODUCTION dedup shape: a small new batch (doc_id % 4 = 0 stands in
# for "today's crawl") probes the EXISTING corpus's shingle index
# (doc_id % 4 != 0) for near-duplicates, instead of re-deduping the
# whole corpus — at 100 TB the difference between a daily O(batch) probe
# and a daily O(corpus²) rebuild. The batch's shingles BROADCAST onto
# the history index, so the corpus-sized side never reshuffles for the
# probe (pinned); the history index and per-doc shingle sizes are
# exactly the artifacts a production pipeline keeps materialized between
# runs. Emits (new_doc, hist_doc, jaccard ≥ 0.8) — "this incoming doc is
# already in the corpus".
@_q(
    "dedup_incremental",
    f"""
    WITH {_SHINGLES_ORACLE},
    hist AS (
      SELECT doc_id, shingle FROM sh WHERE doc_id % 4 != 0
      QUALIFY count(*) OVER (PARTITION BY shingle) <= {_SHINGLE_DF_CAP}),
    newb AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 4 = 0),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT n.doc_id AS new_doc, h.doc_id AS hist_doc,
             count(*) AS n_common
      FROM newb n JOIN hist h ON n.shingle = h.shingle
      GROUP BY 1, 2)
    SELECT new_doc, hist_doc,
           round(n_common * 1.0 / (sn.n_sh + sh2.n_sh - n_common), 4)
               AS jaccard
    FROM pairs
    JOIN sizes sn ON new_doc = sn.doc_id
    JOIN sizes sh2 ON hist_doc = sh2.doc_id
    WHERE round(n_common * 1.0 / (sn.n_sh + sh2.n_sh - n_common), 4) >= 0.8
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # four branches (history side, new batch, both size aliases) off one
    # shingle table: checkpoint it so the md5 shingling runs once — the
    # _jaccard_pairs lesson (pre-fix: 4 corpus scans in the final plan)
    sh = _shingles_spark(spark, sf_dir).localCheckpoint(eager=False)
    hist = _capped_shingles(sh.filter("doc_id % 4 != 0"))
    newb = sh.filter("doc_id % 4 = 0")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    pairs = (
        F.broadcast(newb.alias("n"))
        .join(hist.alias("h"), F.col("n.shingle") == F.col("h.shingle"))
        .groupBy(
            F.col("n.doc_id").alias("new_doc"),
            F.col("h.doc_id").alias("hist_doc"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sn = sizes.alias("sn")
    sh2 = sizes.alias("sh2")
    jac = F.round(
        F.col("n_common")
        / (F.col("sn.n_sh") + F.col("sh2.n_sh") - F.col("n_common")),
        4,
    )
    return (
        pairs.join(sn, F.col("new_doc") == F.col("sn.doc_id"))
        .join(sh2, F.col("hist_doc") == F.col("sh2.doc_id"))
        .select("new_doc", "hist_doc", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
    )


# ---------------------------------------------------------- emb_semdedup
# SemDeDup (Abbas et al. 2023): semantic dedup over EMBEDDINGS — cluster
# the corpus with k-means, then compare pairs only WITHIN a cluster and
# drop every vector that has an earlier (lower vec_id) cluster-mate with
# cosine >= tau. The clustering bounds the quadratic: candidate volume is
# sum(|cluster|^2) instead of N^2 (measured sf0.01: 15,559 within-cluster
# pairs vs 124,750 all-pairs — the 8x of K=8; at 100 TB K scales with N
# so |cluster| stays ~constant and the pass is linear in N).
#
# Scale shape: centroids are literal expressions (same broadcast-free
# assignment as emb_kmeans_step / sim_ivf_topk — the corpus is never
# joined to assign), the only exchange is the self-join keyed on
# cluster_id, and the per-dropped-vec keeper pick is a window over the
# (tiny) qualifying pair set. Output: one row per DROPPED vector with
# its lowest-id keeper and their cosine.
_SEM_TAU = 0.4


@_q(
    "emb_semdedup",
    f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE) AS emb,
             sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
                            FOR i IN range(1, len(embedding) + 1)])) AS nrm
      FROM embeddings),
    cents AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> x::DOUBLE) AS cemb
      FROM embeddings WHERE vec_id < 8),
    dists AS (
      SELECT e.vec_id, cid,
             list_sum([(emb[i] - cemb[i]) * (emb[i] - cemb[i])
                       FOR i IN range(1, len(emb) + 1)]) AS dist
      FROM e CROSS JOIN cents),
    assigned AS (
      SELECT vec_id, cid FROM dists
      QUALIFY row_number() OVER (
          PARTITION BY vec_id ORDER BY dist, cid) = 1),
    ec AS (SELECT e.*, a.cid FROM e JOIN assigned a USING (vec_id)),
    pairs AS (
      SELECT a.cid AS cluster_id, b.vec_id AS vec_id,
             a.vec_id AS keeper_vec,
             round(list_sum([a.emb[i] * b.emb[i]
                             FOR i IN range(1, len(a.emb) + 1)])
                   / (a.nrm * b.nrm), 6) AS cos_sim
      FROM ec a JOIN ec b ON a.cid = b.cid AND a.vec_id < b.vec_id)
    SELECT cluster_id, vec_id, keeper_vec, cos_sim
    FROM pairs WHERE cos_sim >= {_SEM_TAU}
    QUALIFY row_number() OVER (
        PARTITION BY vec_id ORDER BY keeper_vec) = 1
    """,
)
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import (
        _dots_arr,
        _fold,
        _ivf_centroids,
        _sqdist_cols,
        dot_expr,
    )

    cents = _ivf_centroids(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    e = e.withColumn("nrm", F.sqrt(F.expr(_fold("emb", "emb"))))
    # Literal-centroid squared-L2 assignment, one fold per centroid.
    arr = _dots_arr(len(cents))
    ec = (
        e.select("vec_id", "emb", "nrm", *_sqdist_cols(cents))
        # first index of the min -> ties break to the lowest centroid id,
        # matching the oracle's (dist, cid) order
        .withColumn(
            "cluster_id",
            F.expr(
                f"CAST(array_position({arr}, array_min({arr})) - 1 AS BIGINT)"
            ),
        )
        .select("vec_id", "emb", "nrm", "cluster_id")
        # Materialize the assignment ONCE (lazy — folds into this job):
        # the self-join would otherwise recompute the K distance folds
        # on BOTH sides AND fuse them with the 64-term cosine into one
        # whole-stage method (same pin as dedup_minhash_lsh's signature
        # reuse).
        .localCheckpoint(eager=False)
    )
    a, b = ec.alias("a"), ec.alias("b")
    cos = F.round(
        F.expr(dot_expr("a.emb", "b.emb")) / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cluster_id").alias("cluster_id"),
            F.col("b.vec_id").alias("vec_id"),
            F.col("a.vec_id").alias("keeper_vec"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _SEM_TAU)
    )
    w = Window.partitionBy("vec_id").orderBy("keeper_vec")
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ----------------------------------------------------- dedup_lsh_recall
# Dedup quality gate: recall of the MinHash-LSH banding path against the
# exact shingle-Jaccard ground truth at the 0.8 near-dup threshold — the
# "did the banding config drop real dups" audit a pipeline runs before
# trusting an LSH sweep (the dedup twin of emb_ann_recall). With 4
# bands x 4 rows, a jaccard-0.8 pair collides with p = 1-(1-0.8^4)^4 ~
# 0.88, so misses are EXPECTED — this gate makes the trade measurable
# (and a banding change that silently tanks recall fails the oracle).
#
# Scale shape: both sides are exactly the registered plans (their cost
# dominates; the signature table is checkpointed once inside the LSH
# side); the audit itself joins two O(near-dup pairs) sets and folds to
# ONE summary row — free at any corpus size.
@_q(
    "dedup_lsh_recall",
    f"""
    WITH {_SHINGLES_ORACLE}, {_CAPPED_SH_ORACLE}, {_JACCARD_PAIRS_ORACLE},
    {_LSH_CAND_ORACLE},
    exact AS (
      SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.8),
    hits AS (
      SELECT e.doc_a FROM exact e
      JOIN cand c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b)
    SELECT (SELECT count(*) FROM exact) AS n_exact,
           (SELECT count(*) FROM hits) AS n_hit,
           round((SELECT count(*) FROM hits) * 1.0
                 / (SELECT count(*) FROM exact), 4) AS recall
    """,
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    lsh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    hits = exact.join(lsh, ["doc_a", "doc_b"])
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact"), 4).alias("recall"),
        )
    )


# ------------------------------------------------- dedup_exact_substring
# Exact substring deduplication (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better"): find document pairs sharing a RUN
# of consecutive tokens, not just an overlapping shingle SET. The paper
# builds a corpus-wide suffix array; the distributed re-expression here is
# rolling-window hashing — every K-token window is hashed, an inverted
# index blocks on the window hash, and a shared run of R consecutive
# windows certifies a common substring of >= K + R - 1 tokens. That turns
# the sequential suffix-array scan into three declarative relational
# passes Spark executes with ordinary shuffles:
#
#   1. windows:   one narrow codegen'd pass (split -> transform ->
#                 posexplode); the index carries 48-bit window hashes +
#                 int positions, never text, so at 100 TB the shuffle
#                 payload is ~16 bytes/token.
#   2. blocking:  ONE exchange of the window table on the hash. The
#                 count window over that partitioning applies BOTH
#                 prunes in place: hashes seen once can't pair (drops
#                 the overwhelmingly-unique tail) and hashes in more
#                 than _SUB_CAP entries are boilerplate (caps the
#                 quadratic blow-up exactly like the minhash family's
#                 hot-shingle cap above). The self-join that follows is
#                 an equi-join on the hash: at bench scale the pruned
#                 build side broadcasts; at cluster scale both branches
#                 arrive hash-partitioned on h from the count window, so
#                 it degrades to a co-partitioned shuffle join — never a
#                 nested loop (pinned in tests/test_scale_plans.py).
#   3. runs:      gaps-and-islands over the surviving matches only:
#                 within a (pair, diagonal = pos_a - pos_b) group,
#                 consecutive positions share (pos_a - row_number), so
#                 a groupBy counts each run; all post-blocking shuffles
#                 move candidate pairs (tiny vs corpus).
#
# Reported per pair: the longest shared run and total matched windows —
# the evidence a removal pass needs to cut the duplicated span itself
# (the paper's remedy) rather than dropping whole near-identical docs.
_SUB_K = 4    # tokens per rolling window
_SUB_CAP = 50  # window hashes in more entries than this are boilerplate
_SUB_RUN = 3   # min consecutive shared windows => substring of >= 6 tokens
# The oracle's window concat, GENERATED from _SUB_K like the Spark side's
# slice() — a hardcoded 4-token concat would silently diverge the two
# engines the moment _SUB_K is retuned.
_SUB_CONCAT_ORACLE = " || ' ' || ".join(
    "toks[i]" if j == 0 else f"toks[i+{j}]" for j in range(_SUB_K)
)


@_q(
    "dedup_exact_substring",
    f"""
    WITH w AS (
      SELECT doc_id, u.pos, u.h FROM (
        SELECT doc_id,
               unnest([{{'pos': i,
                         'h': ('0x' || substr(md5({_SUB_CONCAT_ORACLE}),
                                  1, 12))::BIGINT}}
                       FOR i IN range(1, len(toks) - {_SUB_K - 2})]) AS u
        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
              FROM documents)
        WHERE len(toks) >= {_SUB_K})),
    wc AS (
      SELECT doc_id, pos, h FROM w
      QUALIFY count(*) OVER (PARTITION BY h) BETWEEN 2 AND {_SUB_CAP}),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM wc a JOIN wc b ON a.h = b.h AND a.doc_id < b.doc_id),
    r AS (
      SELECT doc_a, doc_b, pa - pb AS diag,
             pa - row_number() OVER (
                 PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS island
      FROM m),
    runs AS (
      SELECT doc_a, doc_b, count(*) AS run_len
      FROM r GROUP BY doc_a, doc_b, diag, island)
    SELECT doc_a, doc_b,
           max(run_len) AS max_run,
           CAST(sum(run_len) AS BIGINT) AS n_matches
    FROM runs GROUP BY doc_a, doc_b
    HAVING max(run_len) >= {_SUB_RUN}
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Spread the md5-per-window explode to cluster width when the corpus
    # arrives as one unsplittable input partition (same heuristic+guard
    # as the minhash shingling pass): the pass was a single 0.7 s task;
    # clean A/B at sf0.1 measured 1.28 -> 0.94 s with the round-robin
    # spread (an earlier contended A/B had read it as a wash).
    w = spread_width(spark, sf_dir, "documents")
    if w:
        d = d.repartition(w)
    windows = (
        d.withColumn("toks", F.split(F.lower("text"), r"\s+"))
        .filter(F.size("toks") >= _SUB_K)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(toks) - {_SUB_K}),"
                    f" i -> CAST(conv(substring(md5(concat_ws(' ',"
                    f" slice(toks, i + 1, {_SUB_K}))), 1, 12), 16, 10) AS BIGINT))"
                )
            ).alias("pos", "h"),
        )
    )
    # Blocking prunes (>=2 to pair, <=cap for boilerplate) ride one count
    # window over the hash partitioning the self-join then reuses.
    wc = (
        windows.withColumn("_df", F.count("*").over(Window.partitionBy("h")))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= _SUB_CAP))
        .drop("_df")
    )
    m = (
        wc.alias("a")
        .join(wc.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pa"),
            F.col("b.pos").alias("pb"),
        )
    )
    runs = (
        m.withColumn("diag", F.col("pa") - F.col("pb"))
        .withColumn(
            "island",
            F.col("pa")
            - F.row_number().over(
                Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
            ),
        )
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(F.count("*").alias("run_len"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.max("run_len").alias("max_run"),
            F.sum("run_len").cast("bigint").alias("n_matches"),
        )
        .filter(F.col("max_run") >= _SUB_RUN)
    )


# ---------------------------------------------------- dedup_containment
# Asymmetric containment dedup (Broder's containment coefficient):
# c(A -> B) = |A ∩ B| / |A| over the 3-gram shingle sets, flagging docs
# whose shingles are >= 90% CONTAINED in a larger doc — the
# excerpt/quote/boilerplate-wrapper detector symmetric Jaccard misses
# (a paragraph quoted inside a 100x larger page has Jaccard ~0.01 but
# containment ~1.0). Convention matches dedup_ngram_jaccard: the
# intersection counts over the hot-shingle-CAPPED inverted index, set
# sizes over the uncapped shingle sets; the contained side is the
# smaller set (ties break to the lower doc_id via the a < b join
# order). Scale shape: identical to the Jaccard path — shuffle on the
# 8-byte blocking shingle, then on the pair; sizes join back; no
# all-pairs path anywhere. Containment is exact int/int rounded 4dp in
# both engines.
_CONTAIN_T = 0.9


@_q(
    "dedup_containment",
    f"""
    WITH {_SHINGLES_ORACLE}, {_CAPPED_SH_ORACLE},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    oriented AS (
      SELECT CASE WHEN sa.n_sh <= sb.n_sh THEN doc_a ELSE doc_b END
                 AS contained_doc,
             CASE WHEN sa.n_sh <= sb.n_sh THEN doc_b ELSE doc_a END
                 AS container_doc,
             round(n_common * 1.0 / least(sa.n_sh, sb.n_sh), 4)
                 AS containment
      FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id)
    SELECT contained_doc, container_doc, containment
    FROM oriented WHERE containment >= {_CONTAIN_T}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared pair-generation shape; only the projection differs
    pairs = _pair_overlap(_shingles_spark(spark, sf_dir))
    small_first = F.col("sa.n_sh") <= F.col("sb.n_sh")
    return (
        pairs.select(
            F.when(small_first, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
            F.when(small_first, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("container_doc"),
            F.round(
                F.col("n_common")
                / F.least(F.col("sa.n_sh"), F.col("sb.n_sh")),
                4,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= _CONTAIN_T)
    )


def _text_fingerprint(text):
    """64-bit xxhash64 content fingerprint of a text column."""
    return F.xxhash64(text)


def _by_exact_text(d: DataFrame) -> tuple[DataFrame, list[str]]:
    """``d`` shuffled for a window over exact document identity, and
    that window's partition columns. The shuffle key is the xxhash64
    fingerprint, not md5 or the text: an 8-byte long, far cheaper per
    byte than a cryptographic digest. The window partitions by the
    fingerprint AND the text, so the identity is exact: two distinct
    documents whose 64-bit fingerprints collide stay two groups. The
    fingerprint shuffle already clusters every such group, so the window
    adds no exchange of its own."""
    d = d.withColumn("__text_fp", _text_fingerprint(F.col("text")))
    return d.repartition("__text_fp"), ["__text_fp", "text"]


# ---------------------------------------------------- dedup_survivorship
# Canonical-document selection ("survivorship"): exact-duplicate groups
# keep ONE copy, picked by lowest doc_id (groups share md5(text), so
# every copy's text — and hence n_chars — is identical; the n_chars DESC
# sort key is defensive against an inconsistent stored length, not a
# real "longest copy" policy) — and the per-language ledger reports what
# dedup kept vs dropped in documents AND bytes. This is the accounting
# step every production dedup run emits (the "we removed 38% of bytes"
# table in every dataset paper); dedup_exact answers "which groups",
# this answers "what survives and what did it cost".
#
# Scale shape: ONE md5-grain exchange (the same key dedup_exact
# shuffles on); the survivor pick is a row_number window REUSING that
# partitioning (no second exchange, no join back to the corpus); the
# final per-lang fold shuffles only lang-grain partials. Engine parity:
# the pick is integer-ordered (n_chars, doc_id), byte counts are exact
# BIGINT sums.
@_q(
    "dedup_survivorship",
    """
    WITH picked AS (
      SELECT lang, n_chars,
             row_number() OVER (
               PARTITION BY md5(text)
               ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_survivors,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           CAST(sum(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT)
               AS chars_kept,
           CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
               AS chars_dropped
    FROM picked GROUP BY lang
    """,
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, key = _by_exact_text(load(spark, sf_dir, "documents"))
    w = Window.partitionBy(*key).orderBy(F.col("n_chars").desc(), "doc_id")
    picked = d.select(
        "lang", "n_chars", F.row_number().over(w).alias("rn")
    )
    keep = F.when(F.col("rn") == 1, 1).otherwise(0)
    drop = F.when(F.col("rn") > 1, 1).otherwise(0)
    return picked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(keep).cast("bigint").alias("n_survivors"),
        F.sum(drop).cast("bigint").alias("n_dropped"),
        F.sum(keep * F.col("n_chars")).cast("bigint").alias("chars_kept"),
        F.sum(drop * F.col("n_chars")).cast("bigint").alias("chars_dropped"),
    )


# ------------------------------------------------- corpus_dedup_cascade
# The integration funnel: every dataset paper's "what each cleaning
# stage removed" table. Stages compose the family's own operators, each
# feeding the next exactly as a production run chains them:
#   0_raw       the corpus as ingested
#   1_exact     one survivor (min doc_id) per md5(text) group
#   2_neardup   drop stage-1 survivors verified near-dup (MinHash-LSH
#               candidates, capped-shingle Jaccard >= 0.8) of a
#               LOWER-doc_id survivor — the keep-first policy, decided
#               from the pair list without iteration
#   3_decontam  drop the benchmark docs (doc_id < 10) and any survivor
#               sharing a 13-gram with them (text_decontaminate's gate)
# Reported per stage: documents and characters remaining — the
# bytes-removed accounting that justifies (or indicts) each stage.
#
# Scale shape: each stage's plan is the already-pinned shape of the
# operator it reuses (md5 groupBy; signature checkpoint + band equi-join;
# broadcast benchmark probe); the cascade adds only survivor-set
# anti-joins (id-sized, broadcast at any scale) and a 4-row union of
# aggregates. Nothing here introduces a new corpus-sized shuffle.
# NOTE: the 13-gram expression below is _shingle_expr("duckdb") from
# .pipeline, inlined at authoring time (module-level cross-import would
# tie registry import order); tests assert the two stay in sync.


@_q(
    "corpus_dedup_cascade",
    f"""
    WITH {_SHINGLES_ORACLE}, {_CAPPED_SH_ORACLE}, {_JACCARD_PAIRS_ORACLE},
    {_LSH_CAND_ORACLE},
    vp AS (
      SELECT jac.doc_a, jac.doc_b
      FROM jac JOIN cand
        ON jac.doc_a = cand.doc_a AND jac.doc_b = cand.doc_b
      WHERE jac.jaccard >= 0.8),
    s1 AS (
      SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1),
    drop2 AS (
      SELECT DISTINCT v.doc_b AS doc_id
      FROM vp v
      JOIN s1 a ON v.doc_a = a.doc_id
      JOIN s1 b ON v.doc_b = b.doc_id),
    s2 AS (
      SELECT s1.* FROM s1
      WHERE NOT EXISTS (SELECT 1 FROM drop2 WHERE drop2.doc_id = s1.doc_id)),
    t13 AS (
      SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
      FROM documents),
    sh13 AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest([md5(array_to_string(toks[i:i+12], ' ')) FOR i IN range(1, greatest(len(toks) - 11, 1))]) AS s FROM t13)),
    bench13 AS (SELECT DISTINCT s FROM sh13 WHERE doc_id < 10),
    cont AS (
      SELECT DISTINCT sh13.doc_id FROM sh13 JOIN bench13 USING (s)
      WHERE sh13.doc_id >= 10),
    s3 AS (
      SELECT s2.* FROM s2
      WHERE doc_id >= 10
        AND NOT EXISTS (SELECT 1 FROM cont WHERE cont.doc_id = s2.doc_id))
    SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars FROM documents
    UNION ALL SELECT '1_exact', CAST(count(*) AS BIGINT),
           CAST(sum(n_chars) AS BIGINT) FROM s1
    UNION ALL SELECT '2_neardup', CAST(count(*) AS BIGINT),
           CAST(sum(n_chars) AS BIGINT) FROM s2
    UNION ALL SELECT '3_decontam', CAST(count(*) AS BIGINT),
           CAST(sum(n_chars) AS BIGINT) FROM s3
    """,
)
def corpus_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import text_decontaminate

    d = load(spark, sf_dir, "documents")
    by_text, key = _by_exact_text(d)
    w = Window.partitionBy(*key).orderBy("doc_id")
    s1 = (
        by_text.select("doc_id", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    vp = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    ids_a = s1.select(F.col("doc_id").alias("doc_a"))
    ids_b = s1.select(F.col("doc_id").alias("doc_b"))
    drop2 = (
        vp.join(ids_a, "doc_a")
        .join(ids_b, "doc_b")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s2 = s1.join(drop2, "doc_id", "left_anti").localCheckpoint(eager=False)
    cont = (
        text_decontaminate(spark, sf_dir)
        .filter(F.col("contaminated"))
        .select("doc_id")
    )
    s3 = s2.filter(F.col("doc_id") >= 10).join(cont, "doc_id", "left_anti")

    def _stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )

    return (
        _stage(d, "0_raw")
        .unionAll(_stage(s1, "1_exact"))
        .unionAll(_stage(s2, "2_neardup"))
        .unionAll(_stage(s3, "3_decontam"))
    )


# ---------------------------------------------------- dedup_fuzzy_names
# Fuzzy entity resolution over the part-name dictionary: name pairs
# within Levenshtein distance 2 — the typo/variant detector behind
# catalog dedup and entity linking ("blue bolt" vs "blu bolt"). The
# naive form is all-pairs edit distance (quadratic in the dictionary);
# the standard production shape used here is BLOCKED matching: each
# name emits its 3-char prefix and suffix as blocking keys, candidates
# equi-join on a shared key, and the exact distance verifies candidates
# only. Blocking is recall-lossy by design (a pair differing in BOTH
# its first and last 3 chars is missed); the oracle applies the SAME
# blocking, so the gate measures the operator as specified — the
# LSH-banding contract (dedup_minhash_lsh) applied to strings.
#
# Scale shape: the name dictionary is vocabulary-sized (distinct names,
# not rows), the blocking join is an equi-join on the key, and the
# pair-grain distinct collapses double matches (prefix AND suffix);
# levenshtein runs on candidates only, inside codegen in both engines.
_FUZZY_D = 2


@_q(
    "dedup_fuzzy_names",
    f"""
    WITH names AS (SELECT DISTINCT lower(p_name) AS nm FROM part),
    keyed AS (
      SELECT nm, unnest([substr(nm, 1, 3),
                         substr(nm, greatest(len(nm) - 2, 1), 3)]) AS k
      FROM names),
    cand AS (
      SELECT DISTINCT a.nm AS name_a, b.nm AS name_b
      FROM keyed a JOIN keyed b ON a.k = b.k AND a.nm < b.nm)
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INTEGER) AS edit_dist
    FROM cand
    WHERE levenshtein(name_a, name_b) <= {_FUZZY_D}
    """,
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    names = p.select(F.lower("p_name").alias("nm")).distinct()
    keyed = names.select(
        "nm",
        F.explode(
            F.array(
                F.expr("substring(nm, 1, 3)"),
                F.expr("substring(nm, greatest(length(nm) - 2, 1), 3)"),
            )
        ).alias("k"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, "k")
        .filter(F.col("a.nm") < F.col("b.nm"))
        .select(
            F.col("a.nm").alias("name_a"), F.col("b.nm").alias("name_b")
        )
        .distinct()
    )
    return cand.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("int").alias("edit_dist"),
    ).filter(F.col("edit_dist") <= _FUZZY_D)


# --------------------------------------------------- dedup_source_matrix
# Near-dup provenance matrix: verified MinHash-LSH pairs rolled up by
# the (source, source) of their endpoints — the syndication dashboard
# ("is feed X re-serving feed Y's pages?") that decides which source to
# drop when near-dup clusters straddle feeds. Ordered source pair so
# (web, wiki) and (wiki, web) land in one cell; within-source dupes sit
# on the diagonal. Scale shape: the pair list is near-dup-sized (tiny
# vs corpus); the two provenance lookups are id equi-joins against the
# doc_id→source projection (broadcast at bench scale, co-partitioned at
# 100 TB); the matrix fold is sources²-bounded.
@_q(
    "dedup_source_matrix",
    f"""
    WITH {_SHINGLES_ORACLE}, {_CAPPED_SH_ORACLE}, {_JACCARD_PAIRS_ORACLE},
    {_LSH_CAND_ORACLE},
    vp AS (
      SELECT jac.doc_a, jac.doc_b
      FROM jac JOIN cand
        ON jac.doc_a = cand.doc_a AND jac.doc_b = cand.doc_b
      WHERE jac.jaccard >= 0.8),
    prov AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM vp
      JOIN documents da ON vp.doc_a = da.doc_id
      JOIN documents db ON vp.doc_b = db.doc_id)
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM prov GROUP BY source_a, source_b
    """,
)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    vp = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    # No broadcast hint on da/db: they are CORPUS-row-sized projections
    # (a mandatory broadcast OOMs at 1e9 docs). The near-dup pair list is
    # the small side; AQE broadcasts it when it fits and otherwise both
    # joins shuffle on doc ids — the shape that survives 100 TB.
    return (
        vp.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


# --------------------------------------------- corpus_source_ngram_overlap
# Distribution-level syndication: Jaccard of the DISTINCT 3-gram
# shingle SETS of each source pair — dedup_source_matrix sees doc-level
# near-dups; this sees aggregate content overlap even when no single
# document crosses the near-dup threshold (fragment reuse, template
# families, partial mirrors). Scale shape: the corpus collapses to
# distinct (source, shingle) in one exchange (map-side partials absorb
# within-source repeats); the pair join is keyed on the shingle with
# fan-out bounded by sources² per shingle (no doc-pair blow-up, no
# hot-shingle cap needed); set sizes broadcast onto the sources²-sized
# matrix. Exact ints → exact Jaccard, 6dp.
@_q(
    "corpus_source_ngram_overlap",
    f"""
    WITH {_SHINGLES_ORACLE},
    ss AS (
      SELECT DISTINCT d.source, sh.shingle
      FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
    sizes AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_common
      FROM ss a JOIN ss b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT source_a, source_b,
           CAST(n_common AS BIGINT) AS n_common,
           round(CAST(n_common AS DOUBLE)
                 / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON pairs.source_a = sa.source
    JOIN sizes sb ON pairs.source_b = sb.source
    """,
)
def corpus_source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    sh = _shingles_spark(spark, sf_dir)
    # corpus-row-sized dim: no mandatory broadcast (see dedup_source_matrix)
    ss = (
        sh.join(d, "doc_id")
        .select("source", "shingle")
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = ss.alias("a"), ss.alias("b")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a", "source_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------- dedup_threshold_sweep
# Near-dup threshold sweep: the pair count and affected-document count
# in each Jaccard band from 0.5 up — the calibration histogram read
# before committing a dedup threshold (text_quality_threshold_sweep's
# twin for the dedup axis: "0.8 removes X pairs; 0.7 removes 3X — is
# the cliff real duplication or shingle noise?"). Reuses the registered
# capped-shingle Jaccard pair plan verbatim, so the sweep measures the
# REGISTERED verifier, not a lookalike.
#
# Scale shape: the pair table is near-dup-candidate-sized (the
# inverted-index blocking bounds it); banding is a floor() projection;
# both tallies fold in one bands-sized aggregate. Exact counts; the
# distinct-doc tally counts each doc once per band via a pre-distinct
# union of endpoints.
@_q(
    "dedup_threshold_sweep",
    f"""
    WITH {_SHINGLES_ORACLE}, {_CAPPED_SH_ORACLE}, {_JACCARD_PAIRS_ORACLE},
    banded AS (
      SELECT doc_a, doc_b,
             CAST(least(floor(jaccard * 20), 19) AS INTEGER) AS band
      FROM jac WHERE jaccard >= 0.5),
    docs AS (
      SELECT DISTINCT band, doc_id FROM (
        SELECT band, doc_a AS doc_id FROM banded
        UNION ALL SELECT band, doc_b FROM banded))
    SELECT b.band,
           round(b.band / 20.0, 2) AS jaccard_lo,
           CAST(count(*) AS BIGINT) AS n_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM docs d
            WHERE d.band = b.band) AS n_docs
    FROM banded b GROUP BY b.band
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_spark(spark, sf_dir)
    banded = (
        _jaccard_pairs(sh)
        .filter(F.col("jaccard") >= 0.5)
        .select(
            "doc_a", "doc_b",
            F.least(F.floor(F.col("jaccard") * 20), F.lit(19))
            .cast("int")
            .alias("band"),
        )
        .localCheckpoint(eager=False)
    )
    pairs = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    docs = (
        banded.select("band", F.col("doc_a").alias("doc_id"))
        .unionAll(banded.select("band", F.col("doc_b").alias("doc_id")))
        .distinct()
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return pairs.join(docs, "band").select(
        "band",
        F.round(F.col("band") / 20.0, 2).alias("jaccard_lo"),
        "n_pairs",
        "n_docs",
    )


# ------------------------------------------------- dedup_url_canonical
# URL canonicalization + registrable-domain rollup — the FIRST-hop dedup
# every web corpus runs before any shingling (a crawl re-fetches the same
# page under www./fragment/tracking-param/trailing-slash spellings; the
# reference has no URL ops — this extends the dedup family the same way
# dedup_exact does, VERDICT r12 directive #5).
#
# The documents table carries no URL column, so a messy URL is
# SYNTHESIZED deterministically from (doc_id, source) — mixed-case
# scheme/host, optional www./img. labels, .CO.UK vs .COM TLDs, trailing
# slash, utm_/gclid tracking params in shuffled order, and a fragment —
# identically in both engines, so the oracle is exact.
#
# Canonicalization (the industry-standard normal form):
#   drop fragment; lowercase host; strip leading www.; strip trailing
#   path slashes ('' -> '/'); drop tracking params (utm_*, gclid,
#   fbclid); sort surviving params. Registrable domain = eTLD+1 with a
#   public-suffix rule (last 3 labels under .co.uk, else last 2).
#
# Scale: canonicalization is a single narrow codegen'd pass (regex +
# array ops, no Python); the rollup collapses to (domain, canon_url)
# grain map-side-partially before the final per-domain aggregate — at
# 100 TB the shuffle payload is one row per distinct URL, not per doc.
_URL_SYNTH_SQL = (
    "'HTTPS://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END"
    " || CASE WHEN doc_id % 6 = 0 THEN 'Img.' ELSE '' END"
    " || source"
    " || CASE WHEN doc_id % 7 < 2 THEN '.CO.UK' ELSE '.COM' END"
    " || '/Path/' || CAST(doc_id % 40 AS STRING)"
    " || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN"
    "        '?utm_source=feed&ref=' || CAST(doc_id % 5 AS STRING) || '&b=2'"
    "      WHEN doc_id % 4 = 1 THEN '?b=2&a=1&gclid=xyz'"
    "      ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN '#Sec' ELSE '' END"
)


@_q(
    "dedup_url_canonical",
    r"""
    WITH urls AS (
      SELECT doc_id,
             'HTTPS://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
             || CASE WHEN doc_id % 6 = 0 THEN 'Img.' ELSE '' END
             || source
             || CASE WHEN doc_id % 7 < 2 THEN '.CO.UK' ELSE '.COM' END
             || '/Path/' || CAST(doc_id % 40 AS VARCHAR)
             || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
             || CASE WHEN doc_id % 4 = 0 THEN
                    '?utm_source=feed&ref=' || CAST(doc_id % 5 AS VARCHAR) || '&b=2'
                  WHEN doc_id % 4 = 1 THEN '?b=2&a=1&gclid=xyz'
                  ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN '#Sec' ELSE '' END AS url
      FROM documents
    ), nf AS (
      SELECT doc_id, regexp_replace(url, '#.*', '') AS no_frag FROM urls
    ), c1 AS (
      SELECT doc_id, no_frag,
             regexp_replace(lower(regexp_extract(no_frag,
                 '^[A-Za-z]+://([^/?]+)', 1)), '^www\.', '') AS host
      FROM nf
    ), c2 AS (
      SELECT doc_id, host,
             CASE WHEN regexp_replace(regexp_extract(no_frag,
                      '^[A-Za-z]+://[^/?]+([^?]*)', 1), '/+$', '') = ''
                  THEN '/'
                  ELSE regexp_replace(regexp_extract(no_frag,
                      '^[A-Za-z]+://[^/?]+([^?]*)', 1), '/+$', '') END AS path,
             coalesce(array_to_string(list_sort(list_filter(
                 string_split(regexp_extract(no_frag, '\?(.*)', 1), '&'),
                 p -> p <> '' AND NOT regexp_matches(p,
                     '^(utm_[^=]*|gclid|fbclid)='))), '&'), '') AS q
      FROM c1
    ), c3 AS (
      SELECT doc_id,
             CASE WHEN host LIKE '%.co.uk'
                  THEN regexp_extract(host, '([^.]+\.co\.uk)$', 1)
                  ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END AS domain,
             'https://' || host || path
             || CASE WHEN q = '' THEN '' ELSE '?' || q END AS canon_url
      FROM c2
    ), per_url AS (
      SELECT domain, canon_url, count(*) AS n FROM c3 GROUP BY 1, 2
    )
    SELECT domain, CAST(sum(n) AS BIGINT) AS n_docs,
           count(*) AS n_urls,
           CAST(sum(n) - count(*) AS BIGINT) AS n_dup_docs,
           min(canon_url) AS first_url
    FROM per_url GROUP BY domain
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_URL_SYNTH_SQL} AS url"
    )
    c = _url_canonicalize(d)
    # two-phase rollup: collapse to URL grain first (map-side partial
    # agg bounds the shuffle to one row per distinct canonical URL)
    per_url = c.groupBy("domain", "canon_url").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_url.groupBy("domain").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_urls"),
        (F.sum("n") - F.count(F.lit(1))).cast("bigint").alias("n_dup_docs"),
        F.min("canon_url").alias("first_url"),
    )


def _url_canonicalize(d: DataFrame) -> DataFrame:
    """(doc_id, url) -> (doc_id, domain, canon_url): the canonicalization
    pipeline, exposed so the urllib differential test exercises EXACTLY
    the registered expressions (tests/test_round13_fixes.py)."""
    no_frag = F.regexp_replace("url", "#.*", "")
    c = d.select(
        "doc_id", no_frag.alias("no_frag")
    ).select(
        "doc_id",
        "no_frag",
        F.regexp_replace(
            F.lower(F.regexp_extract("no_frag", r"^[A-Za-z]+://([^/?]+)", 1)),
            r"^www\.", "",
        ).alias("host"),
    ).select(
        "doc_id",
        "host",
        F.when(
            F.regexp_replace(
                F.regexp_extract(
                    "no_frag", r"^[A-Za-z]+://[^/?]+([^?]*)", 1
                ),
                r"/+$", "",
            ) == "",
            F.lit("/"),
        ).otherwise(
            F.regexp_replace(
                F.regexp_extract(
                    "no_frag", r"^[A-Za-z]+://[^/?]+([^?]*)", 1
                ),
                r"/+$", "",
            )
        ).alias("path"),
        F.expr(
            "array_join(array_sort(filter("
            "  split(regexp_extract(no_frag, '\\\\?(.*)', 1), '&'),"
            "  p -> p != '' AND NOT p RLIKE '^(utm_[^=]*|gclid|fbclid)='"
            ")), '&')"
        ).alias("q"),
    ).select(
        "doc_id",
        F.when(
            F.col("host").endswith(".co.uk"),
            F.regexp_extract("host", r"([^.]+\.co\.uk)$", 1),
        ).otherwise(
            F.regexp_extract("host", r"([^.]+\.[^.]+)$", 1)
        ).alias("domain"),
        F.concat(
            F.lit("https://"), F.col("host"), F.col("path"),
            F.when(F.col("q") == "", F.lit("")).otherwise(
                F.concat(F.lit("?"), F.col("q"))
            ),
        ).alias("canon_url"),
    )
    return c
