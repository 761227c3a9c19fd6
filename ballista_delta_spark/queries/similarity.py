"""Approximate-nearest-neighbor similarity search over the ``embeddings``
table (``embedding: array<float>``, 64-dim) — training-data pipeline
extensions beyond the reference surface (SURVEY.md §7 phase E).

Two tiers, as a 100 TB pipeline would deploy them:

- ``sim_cosine_topk``: brute-force cosine top-k — the exact baseline. The
  query set is tiny (5 vectors) and explicitly ``F.broadcast``-joined, so
  the plan is a single map-side pass over the corpus (no shuffle for the
  join; one shuffle for the per-query top-k window). Brute force over N
  corpus rows is the right plan when |queries| is small: it reads the
  corpus once, which is the floor for exact search. Bench note (r4
  bisect, see BASELINE.md): at the 2000-row fixture this query is
  PLANNING-bound, not data-bound — ~0.9 s of each fresh run is py4j tree
  build + Catalyst optimization of the 64-term unrolled dots; execution
  is 0.18 s. That fixed cost amortizes to zero at real scale.
- ``sim_lsh_bucketed``: the approximate scale path — random-hyperplane
  sign-LSH. Every vector gets a bucket id from the sign pattern of 4
  deterministic hyperplanes; candidates are corpus vectors sharing the
  query's bucket (a hash-partitioned equi-join on ``bucket``, no cross
  join anywhere); exact cosine re-ranks within the bucket. At 100 TB you
  raise the plane count so buckets stay bounded, and the join stays
  shuffle-on-bucket — cost is |bucket| per query, not N.

Engine parity: the hyperplanes are pseudo-random integer literals
``w(k, d) = ((37k + 61d) mod 7) - 3`` generated once in Python and pasted
into BOTH the Spark expression and the DuckDB oracle, dot products fold
left-to-right in double precision, and cosine is rounded to 6 decimals
before ranking, with ``vec_id`` as the deterministic tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._registry import make_registry
from ._tables import load

QUERIES: dict = {}
_q = make_registry(QUERIES)

_DIM = 64
_N_QUERIES = 5  # query set = vec_id < 5
_TOPK = 10
# Default plane count for the REGISTERED query (pinned so the DuckDB oracle
# computes identical buckets). The library entry point `lsh_bucket_expr`
# takes n_planes as a parameter: at production scale size it to the corpus
# (≈ log2(N / target_bucket_rows)), because 2^n_planes is both the join-key
# cardinality (parallelism ceiling) and the expected bucket-count divisor.
_N_PLANES = 4


def _planes(n_planes: int = _N_PLANES) -> list[list[int]]:
    return [
        [((37 * k + 61 * d) % 7) - 3 for d in range(_DIM)]
        for k in range(n_planes)
    ]


def _sql_double(x: float) -> str:
    """One DOUBLE literal for an inline VALUES table. repr() round-trips
    every finite double bit-for-bit; non-finite values have no bare SQL
    literal (repr -> 'inf'/'nan' would be a ParseException), so they
    render as the explicit string cast Spark defines for them."""
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _lit_array(c: list[float]) -> str:
    return "array(" + ", ".join(_sql_double(x) for x in c) + ")"


def _fold(left: str, right: str, term: str = "x * y") -> str:
    """``term(left[0], right[0]) + term(left[1], right[1]) + ...`` as ONE
    ``aggregate(zip_with(...))`` fold: the form of every per-vector sum
    (norm, centroid dots, squared distances, LSH planes). Catalyst parses,
    analyses and generates code for a 64-term chain on every frame build;
    the fold is one lambda over the arrays. Seeding with -0.0 keeps it
    bit-identical to the left-associative chain, because -0.0 + t == t
    bitwise for every double t. Only the pair-loop cosine stays unrolled
    (``dot_expr``): it runs per pair, not per vector."""
    return (
        f"aggregate(zip_with({left}, {right}, (x, y) -> {term}), "
        "-0.0D, (a, v) -> a + v)"
    )


def lsh_bucket_expr(n_planes: int = _N_PLANES, *, dialect: str = "spark") -> str:
    """Sign-LSH bucket id over an `emb: array<double>` column:
    bucket = sum_k (plane_k . emb > 0) << k. Both dialects sum each plane's
    nonzero-weight terms left to right in double precision, so the Spark
    query and the DuckDB oracle agree term for term (non-finite inputs
    included): Spark as one ``_fold`` per plane, DuckDB as an unrolled
    chain (~10x faster there than a fold over a plane-matrix literal).

    The Spark fold keeps ``emb``'s nonzero-weight elements with a
    ``filter`` over a constant mask, so no lambda body names ``emb``.
    With a lambda that captured it, Catalyst inferred a filter over
    ``emb`` onto ``emb_knn_graph``'s per-bucket count, which has no
    ``emb`` column, and the first such plan of a session failed with
    ``INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND``."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect {dialect!r} (spark | duckdb)")
    terms = []
    for k, row in enumerate(_planes(n_planes)):
        if dialect == "spark":
            mask = ", ".join("true" if w else "false" for w in row)
            dot = _fold(f"filter(emb, (e, i) -> array({mask})[i])",
                        _lit_array([float(w) for w in row if w]))
            terms.append(
                f"(CASE WHEN ({dot}) > 0D THEN CAST({1 << k} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END)"
            )
        else:  # duckdb (1-based array indexing)
            dot = " + ".join(f"emb[{d + 1}] * ({w}.0)" for d, w in enumerate(row) if w)
            terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << k} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


# Corpus as array<double> with its per-row L2 norm, shared by every query.
def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS emb"
    ).withColumn("nrm", F.sqrt(F.expr(_fold("emb", "emb"))))


_CORPUS_ORACLE = """
    e AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE) AS emb,
             sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
                            FOR i IN range(1, len(embedding) + 1)])) AS nrm
      FROM embeddings)
"""

_COS_ORACLE = """
    round(list_sum([q.emb[i] * c.emb[i] FOR i IN range(1, len(q.emb) + 1)])
          / (q.nrm * c.nrm), 6)
"""


def dot_expr(left: str, right: str, dim: int = _DIM) -> str:
    """Unrolled left-to-right dot product over two array<double> columns:
    the pair-loop kernel. The cosine of a similarity join runs once per
    candidate pair, where a plain GetArrayItem chain inside whole-stage
    codegen beats the interpreted ``_fold``; per-vector sums use the fold.
    Same IEEE fold order as ``_fold`` and the oracle's list_sum."""
    return " + ".join(f"{left}[{i}] * {right}[{i}]" for i in range(dim))


def _cos_spark() -> F.Column:
    return F.round(
        F.expr(dot_expr("q.emb", "c.emb")) / (F.col("q.nrm") * F.col("c.nrm")),
        6,
    )


# ------------------------------------------------------- sim_cosine_topk
@_q(
    "sim_cosine_topk",
    f"""
    WITH {_CORPUS_ORACLE},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {_COS_ORACLE} AS cos_sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_N_QUERIES}),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored)
    SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= {_TOPK}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _corpus(spark, sf_dir)
    q = F.broadcast(e.filter(F.col("vec_id") < _N_QUERIES)).alias("q")
    # The quadratic scoring loop (stream side of the broadcast join) runs
    # on however many tasks the corpus SCAN produced — one, for a
    # single-row-group file — serializing |q|x|c| unrolled dot chains on
    # one core. Spread to cluster width under the guard (no-op once the
    # corpus scans wide). Per-pair math + the vec_id tie-break make the
    # result partitioning-proof.
    from ._tables import spread_width

    sw = spread_width(spark, sf_dir, "embeddings")
    c = (e.repartition(sw) if sw else e).alias("c")
    scored = q.join(c, F.col("c.vec_id") != F.col("q.vec_id")).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("vec_id"),
        _cos_spark().alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
    )


# ------------------------------------------------------ sim_lsh_bucketed
# bucket = sum_k (plane_k . emb > 0) << k ; candidates share the bucket.
_BUCKET_SPARK = lsh_bucket_expr(_N_PLANES, dialect="spark")
_BUCKET_DUCK = lsh_bucket_expr(_N_PLANES, dialect="duckdb")


def lsh_bucketize(df: DataFrame, n_planes: int = _N_PLANES) -> DataFrame:
    """Library entry point: add a sign-LSH `bucket` column to a DataFrame
    with an `emb: array<double>` column. Bucket count scales as 2^n_planes —
    size n_planes to the corpus so buckets stay bounded (tests assert the
    growth)."""
    return df.withColumn("bucket", F.expr(lsh_bucket_expr(n_planes)))


@_q(
    "sim_lsh_bucketed",
    f"""
    WITH {_CORPUS_ORACLE},
    eb AS (SELECT vec_id, emb, nrm, {_BUCKET_DUCK} AS bucket FROM e),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {_COS_ORACLE} AS cos_sim
      FROM eb q JOIN eb c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {_N_QUERIES}),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored)
    SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= {_TOPK}
    """,
)
def sim_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    eb = _corpus(spark, sf_dir).withColumn("bucket", F.expr(_BUCKET_SPARK))
    q = F.broadcast(eb.filter(F.col("vec_id") < _N_QUERIES)).alias("q")
    c = eb.alias("c")
    scored = (
        q.join(c, "bucket")
        .filter(F.col("c.vec_id") != F.col("q.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("vec_id"),
            _cos_spark().alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
    )


# ---------------------------------------------------------- sim_ivf_topk
# IVF (inverted-file) ANN — the coarse-quantizer scale path the LSH variant
# complements. K deterministic coarse centroids (the K lowest vec_ids; in a
# real deployment k-means output — either way small driver/broadcast state,
# exactly like FAISS), assignment metric dot/|c| (corpus-side norm constant
# within the argmax, so it cancels; tie -> lowest centroid id).
#
# Scale shape: centroid state is INLINED as literal expressions, so cell
# assignment is a pure map-side projection — the corpus is NEVER shuffled or
# joined to assign cells (the naive corpus x centroids join is an 8x row
# blow-up plus a shuffle). Queries probe their NPROBE nearest cells and only
# those cells' vectors are scored: candidate volume ~ NPROBE/K of the
# corpus per query vs brute force. Recall is the standard IVF trade —
# a true neighbor assigned to an unprobed cell is missed; raise NPROBE to
# buy recall with candidate volume.
_IVF_K = 8
_IVF_NPROBE = 2


# Centroid state per (sf_dir, table mtime+size) — collected once per
# session, like a loaded IVF index. Re-collecting per query run would
# re-scan the corpus twice (centroids + queries) before any real work.
# The mtime/size in the key makes a rewritten embeddings table invalidate
# the cached index instead of silently serving stale centroids.
_IVF_CACHE: dict[tuple, list[list[float]]] = {}
_IVF_PROBE_CACHE: dict[tuple, list] = {}


def _ivf_cache_key(sf_dir: str) -> tuple:
    import os

    p = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(p)
        return (sf_dir, st.st_mtime_ns, st.st_size)
    except OSError:
        # Not stat-able (remote URI): no invalidation signal exists, so
        # caching would silently serve stale centroids after a rewrite —
        # return None and let callers bypass the cache entirely.
        return None


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    key = _ivf_cache_key(sf_dir)
    cached = _IVF_CACHE.get(key) if key is not None else None
    if cached is not None:
        return cached
    rows = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _IVF_K)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    )
    got = sorted(r.vec_id for r in rows)
    if got != list(range(_IVF_K)):
        # Cluster ids are LIST POSITIONS on the Spark side but actual
        # vec_ids in the oracles — identical only when the seed ids are
        # exactly 0.._IVF_K-1. A gap would silently shift every cluster
        # label (and break the PQ sub-distance indexing); fail loudly.
        raise ValueError(
            f"IVF centroid seeds must be vec_ids 0..{_IVF_K - 1}; "
            f"embeddings table has {got[:8]}..."
        )
    cents = [r.emb for r in sorted(rows, key=lambda r: r.vec_id)]
    if key is not None:
        _IVF_CACHE[key] = cents
    return cents


def _probe_values_df(
    spark: SparkSession, probe_rows: list[tuple]
) -> DataFrame:
    """(query_id, qemb, qnrm, probe_cell) rows as a VALUES inline table
    -> LocalTableScan. spark.createDataFrame(rows) parallelizes the rows
    over defaultParallelism partitions: building the broadcast side then
    runs a 32-task Python-RDD job per execution (measured 0.35 s idle,
    multi-second under a busy Python worker pool). The literal form
    broadcasts straight from the driver with ZERO tasks. An empty probe
    list has no VALUES form ('FROM VALUES ' is a ParseException) — fall
    back to an empty local relation with the same schema."""
    schema = (
        "query_id BIGINT, qemb ARRAY<DOUBLE>, qnrm DOUBLE, "
        "probe_cell BIGINT"
    )
    if not probe_rows:
        return spark.createDataFrame([], schema)
    rows_sql = ", ".join(
        "({}L, array({}), {}, {}L)".format(
            q,
            ", ".join(_sql_double(x) for x in emb),
            _sql_double(nrm),
            cell,
        )
        for q, emb, nrm, cell in probe_rows
    )
    return spark.sql(
        "SELECT col1 AS query_id, col2 AS qemb, col3 AS qnrm, "
        f"col4 AS probe_cell FROM VALUES {rows_sql}"
    )


def _sqdist_cols(cents: list[list[float]]) -> list:
    """``__d0..__d{K-1}`` = squared L2 distance to each literal centroid,
    one ``_fold`` per centroid. ONE definition for every K-centroid
    consumer (kmeans step, outlier detect, k-center step, cluster
    purity, semdedup)."""
    return [
        F.expr(_fold("emb", _lit_array(c), "(x - y) * (x - y)")).alias(f"__d{i}")
        for i, c in enumerate(cents)
    ]


def _with_centroid_dots(df: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Add ``__d0..__d{K-1}`` = dot(emb, c)/|c| per literal centroid, one
    ``_fold`` per centroid. CollapseProject keeps the aliases as their own
    projection when they are re-referenced (non-cheap, multi-use), so the
    argmax downstream reads plain column refs. Same fold order as the
    oracle: dots left to right over d, |c| = sqrt of the left-to-right
    (NOT fsum) sum of squares; repr() round-trips doubles, so the
    literals ARE the stored float32 values."""
    import math

    return df.select("*", *[
        F.expr(
            f"{_fold('emb', _lit_array(c))} / "
            + _sql_double(math.sqrt(sum((x * x for x in c), 0.0)))
        ).alias(f"__d{i}")
        for i, c in enumerate(cents)
    ])


def _dots_arr(k: int) -> str:
    return "array(" + ", ".join(f"__d{i}" for i in range(k)) + ")"


_IVF_ORACLE_CENTS = f"""
    cents AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> x::DOUBLE) AS cemb,
             sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
                            FOR i IN range(1, len(embedding) + 1)])) AS cnrm
      FROM embeddings WHERE vec_id < {_IVF_K}),
    assigned AS (
      SELECT vec_id, emb, nrm, cid AS cell FROM (
        SELECT e.vec_id, e.emb, e.nrm, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_sum([e.emb[i] * c.cemb[i]
                                    FOR i IN range(1, len(e.emb) + 1)]) / c.cnrm
                          DESC, c.cid) AS rn
        FROM e CROSS JOIN cents c) WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cid AS probe_cell FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_sum([e.emb[i] * c.cemb[i]
                                    FOR i IN range(1, len(e.emb) + 1)]) / c.cnrm
                          DESC, c.cid) AS rn
        FROM e CROSS JOIN cents c WHERE e.vec_id < {_N_QUERIES})
      WHERE rn <= {_IVF_NPROBE})
"""


@_q(
    "sim_ivf_topk",
    f"""
    WITH {_CORPUS_ORACLE},
    {_IVF_ORACLE_CENTS},
    scored AS (
      SELECT p.query_id, c.vec_id,
             round(list_sum([q.emb[i] * c.emb[i]
                             FOR i IN range(1, len(q.emb) + 1)])
                   / (q.nrm * c.nrm), 6) AS cos_sim
      FROM probes p
      JOIN e q ON q.vec_id = p.query_id
      JOIN assigned c ON c.cell = p.probe_cell AND c.vec_id <> p.query_id),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored)
    SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= {_TOPK}
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = _ivf_centroids(spark, sf_dir)
    arr = _dots_arr(len(cents))
    e = _corpus(spark, sf_dir)
    # Cell assignment: map-side projections over literal centroids; the
    # argmax reads the K dot COLUMNS (cheap refs), 1-based array_position
    # tie-breaks to the lowest centroid id -> cid = i-1. The K centroid
    # folds run on however many tasks the corpus scan produced (ONE for
    # a single-row-group file) — spread to cluster width under the guard
    # (no-op once the corpus scans wide); per-row math, order-proof.
    from ._tables import spread_width

    sw = spread_width(spark, sf_dir, "embeddings")
    assigned = (
        _with_centroid_dots(e.repartition(sw) if sw else e, cents)
        .withColumn(
            "cell",
            # coalesce(-1): provably non-null, so the join's inferred
            # isnotnull(cell) folds to true instead of being pushed below
            # the projection — pushdown would substitute the FULL argmax
            # chain into a Filter and blow the stage past janino's method
            # size (observed). -1 never equals a probe cell.
            F.expr(
                f"coalesce(array_position({arr}, array_max({arr})) - 1, -1)"
            ).cast("bigint"),
        )
        .drop(*[f"__d{i}" for i in range(len(cents))])
    )
    # Probe list: |queries| x NPROBE rows, computed DRIVER-SIDE — exactly
    # where an ANN service computes it (query planning against broadcast
    # centroid state). Python's left-to-right float arithmetic is the same
    # IEEE fold as the SQL chains, so ranks match the oracle bit-for-bit.
    import math

    probe_rows = _IVF_PROBE_CACHE.get(_ivf_cache_key(sf_dir))
    if probe_rows is None:
        qrows = (
            e.filter(F.col("vec_id") < _N_QUERIES)
            .select("vec_id", "emb", "nrm")
            .collect()
        )
        cnrms = [math.sqrt(sum((x * x for x in c), 0.0)) for c in cents]
        probe_rows = []
        for r in qrows:
            dots = [
                (sum((r.emb[d] * c[d] for d in range(_DIM)), 0.0) / cn, cid)
                for cid, (c, cn) in enumerate(zip(cents, cnrms))
            ]
            dots.sort(key=lambda t: (-t[0], t[1]))
            for _dot, cid in dots[:_IVF_NPROBE]:
                probe_rows.append((r.vec_id, r.emb, r.nrm, cid))
        _IVF_PROBE_CACHE[_ivf_cache_key(sf_dir)] = probe_rows
    probes = _probe_values_df(spark, probe_rows)
    # Broadcast the probe rows (queries x NPROBE): the corpus-side join is
    # then map-side on cell — the corpus is never shuffled end-to-end.
    scored = (
        F.broadcast(probes)
        .join(
            assigned.alias("c"),
            (F.col("probe_cell") == F.col("c.cell"))
            & (F.col("c.vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("c.vec_id").alias("vec_id"),
            F.round(
                F.expr(dot_expr("qemb", "c.emb")) / (F.col("qnrm") * F.col("c.nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _TOPK
    )


# --------------------------------------------------------- emb_normalize
# Unit-norm embeddings — the storage/search prep step every vector pipeline
# runs before indexing (cosine becomes a plain dot product downstream).
# transform() (one reference to nrm) instead of an unrolled 64-element
# array: CollapseProject inlines the 64-term nrm subtree into EVERY element
# of an unrolled array (64x64 = 4096 terms; measured 55 s of planning/
# codegen at sf0.01) — the higher-order form keeps nrm single-use, and a
# map-only op over arrays has no codegen'd hot loop to protect anyway.
# Output shape: posexplode to (vec_id, i, x) scalar rows — the driver's
# canonicalizer sorts result rows through pandas, where a raw array column
# is unhashable (r6 driver-red for exactly this reason); scalar doubles
# hash, and per-element division uses identical operands in both engines:
# exact match, no rounding.
@_q(
    "emb_normalize",
    f"""
    WITH {_CORPUS_ORACLE}
    SELECT vec_id, CAST(gs.i - 1 AS INTEGER) AS i, emb[gs.i] / nrm AS x
    FROM e, range(1, {_DIM} + 1) gs(i)
    WHERE vec_id < 100
    """,
)
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _corpus(spark, sf_dir).filter(F.col("vec_id") < 100)
    return e.select(
        "vec_id",
        F.posexplode(F.transform("emb", lambda x: x / F.col("nrm"))).alias(
            "i", "x"
        ),
    )


# ------------------------------------------------------------ emb_project
# Random-projection dimensionality reduction (64 -> 8): proj_k = p_k . emb
# over the same deterministic integer plane family the sign-LSH uses —
# sparse Achlioptas-style weights in {-3..3}, derived from (k, d) alone,
# so every executor (and the oracle) regenerates the matrix without
# shipping it. This is the scale path UNDER the ANN ids: at 100 TB you
# project once (map-only, zero shuffle — pinned), store 8 doubles instead
# of 64 floats, and brute-force/IVF the reduced space; production uses
# k≈128 with the identical construction. Both dialects evaluate the same
# unrolled multiply-add chain (fold order included) -> exact hash match,
# no rounding.
_PROJ_K = 8


def _proj_dots(dialect: str) -> list[str]:
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect {dialect!r} (spark | duckdb)")
    dots = []
    for row in _planes(_PROJ_K):
        if dialect == "spark":
            dots.append(" + ".join(
                f"emb[{d}] * ({w}.0D)" for d, w in enumerate(row) if w
            ))
        else:
            dots.append(" + ".join(
                f"emb[{d + 1}] * ({w}.0)" for d, w in enumerate(row) if w
            ))
    return dots


@_q(
    "emb_project",
    f"""
    WITH {_CORPUS_ORACLE}
    SELECT vec_id, CAST(gs.k AS INTEGER) AS k,
           CASE gs.k
               {" ".join(f"WHEN {k} THEN ({dot})" for k, dot in enumerate(_proj_dots("duckdb")))}
           END AS p
    FROM e, range(0, {_PROJ_K}) gs(k)
    WHERE vec_id < 200
    """,
)
def emb_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _corpus(spark, sf_dir).filter(F.col("vec_id") < 200)
    # One alias per dot product, then posexplode an array of PLAIN refs —
    # the same split `_with_centroid_dots` uses: a single array expression
    # holding all 8 unrolled ~40-term chains blows janino's 64 KB
    # generated-method limit and the stage silently falls back to
    # interpreted evaluation (~10x). Split, each projected chain compiles
    # on its own and the Generate input is 8 cheap column refs; the plan
    # pin in tests/test_scale_plans.py asserts whole-stage codegen holds.
    dots = _proj_dots("spark")
    e = e.select(
        "vec_id",
        *[F.expr(dot).alias(f"__p{k}") for k, dot in enumerate(dots)],
    )
    arr = "array(" + ", ".join(f"__p{k}" for k in range(_PROJ_K)) + ")"
    return e.select("vec_id", F.posexplode(F.expr(arr)).alias("k", "p"))


# ----------------------------------------------------- emb_quantize_int8
# Symmetric int8 quantization of the unit vector (q = floor(127*x + 0.5),
# x in [-1, 1]) — the 4x storage/bandwidth cut ANN indexes ship to disk.
# floor(x + 0.5) instead of round(): both engines define floor identically,
# while round() half-even vs half-away-from-zero would desync the oracle
# exactly at the .5 boundaries quantization constantly hits. Same
# posexplode-to-scalars output shape as emb_normalize (driver-hashable).
@_q(
    "emb_quantize_int8",
    f"""
    WITH {_CORPUS_ORACLE}
    SELECT vec_id, CAST(gs.i - 1 AS INTEGER) AS i,
           CAST(floor(127.0 * emb[gs.i] / nrm + 0.5) AS INTEGER) AS q
    FROM e, range(1, {_DIM} + 1) gs(i)
    WHERE vec_id < 100
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _corpus(spark, sf_dir).filter(F.col("vec_id") < 100)
    return e.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "emb",
                lambda x: F.floor(F.lit(127.0) * x / F.col("nrm") + F.lit(0.5))
                .cast("int"),
            )
        ).alias("i", "q"),
    )


# ------------------------------------------------------ emb_kmeans_step
# One distributed Lloyd's iteration — the primitive under every
# clustering-based curation step (semantic dedup buckets, quality
# strata, IVF index training): assign every vector to its nearest of
# K=8 literal seed centroids (squared-L2, first-on-tie), then emit the
# RECOMPUTED per-cluster means. Scale shape mirrors sim_ivf_topk's
# assignment: one squared-distance fold per centroid (`_sqdist_cols`),
# argmin as a pure projection — the corpus is touched by exactly ONE narrow
# pass and the only shuffle carries (cluster, dim) partial sums, K*DIM
# groups regardless of corpus size. A full k-means run is this query
# iterated with the driver feeding back the new centroids as literals.
@_q(
    "emb_kmeans_step",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings),
    cents AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> x::DOUBLE) AS cemb
      FROM embeddings WHERE vec_id < {_IVF_K}),
    dists AS (
      SELECT e.vec_id, cid,
             list_sum([(emb[i] - cemb[i]) * (emb[i] - cemb[i])
                       FOR i IN range(1, len(emb) + 1)]) AS dist
      FROM e CROSS JOIN cents),
    assigned AS (
      SELECT vec_id, cid FROM dists
      QUALIFY row_number() OVER (
          PARTITION BY vec_id ORDER BY dist, cid) = 1),
    vals AS (
      SELECT a.cid, i AS dim, e.emb[i + 1] AS v
      FROM assigned a JOIN e USING (vec_id),
           LATERAL (SELECT unnest(range(0, {_DIM})) AS i)
    )
    SELECT cid AS cluster_id, dim,
           round(CAST(sum(CAST(round(v, 9) AS DECIMAL(20,9))) AS DOUBLE)
                 / count(*), 4) + 0.0 AS c_val,
           count(*) AS n
    FROM vals GROUP BY 1, 2
    """,
)
def emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = _ivf_centroids(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    dcols = _sqdist_cols(cents)
    arr = _dots_arr(len(cents))
    assigned = (
        e.select("vec_id", "emb", *dcols)
        # array_position returns the FIRST index of the min — ties break
        # to the smallest centroid id, matching the oracle's (dist, cid)
        # order
        .withColumn(
            "cluster_id",
            F.expr(
                f"CAST(array_position({arr}, array_min({arr})) - 1 AS BIGINT)"
            ),
        )
        .select("vec_id", "emb", "cluster_id")
    )
    return (
        assigned.select(
            "cluster_id", F.posexplode("emb").alias("dim", "v")
        )
        .groupBy("cluster_id", F.col("dim").cast("bigint").alias("dim"))
        # the mean accumulates in DECIMAL (each v pre-rounded to 9dp so
        # the cast is exact): double partial sums are partitioning-order
        # dependent and flip the 4th decimal at cell boundaries — the
        # playbook's standard order-independence trick
        .agg(
            (
                F.round(
                    F.expr(
                        "CAST(sum(CAST(round(v, 9) AS DECIMAL(20,9))) "
                        "AS DOUBLE)"
                    ) / F.count("*"),
                    4,
                )
                # + 0.0 folds IEEE negative zero to +0.0 — Spark's
                # BigDecimal round already strips the sign, DuckDB's
                # keeps it, and '-0.0' vs '0.0' breaks the value hash
                + F.lit(0.0)
            ).alias("c_val"),
            F.count("*").alias("n"),
        )
    )


# --------------------------------------------------------- emb_ann_recall
# ANN quality gate: recall@k of the LSH-bucketed path against the exact
# brute-force top-k, per query vector. This is the evaluation harness a
# production pipeline runs after every index (re)build — "did the
# approximate index degrade?" — kept as a registered, oracle-paired
# operator so the gate itself is regression-tested. Scale shape: the two
# searches are exactly the registered plans (their costs dominate); the
# comparison joins two k x |queries| result sets — negligible at any
# scale, and the recall arithmetic (n_hit / k) is exact integer/literal
# division, bit-identical across engines. Zero-hit queries survive via
# the left join (recall 0.0, never a dropped row).
@_q(
    "emb_ann_recall",
    f"""
    WITH {_CORPUS_ORACLE},
    eb AS (SELECT vec_id, emb, nrm, {_BUCKET_DUCK} AS bucket FROM e),
    ex_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {_COS_ORACLE} AS cos_sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_N_QUERIES}),
    ex_topk AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rnk
        FROM ex_scored) WHERE rnk <= {_TOPK}),
    ap_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {_COS_ORACLE} AS cos_sim
      FROM eb q JOIN eb c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {_N_QUERIES}),
    ap_topk AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rnk
        FROM ap_scored) WHERE rnk <= {_TOPK}),
    hits AS (
      SELECT x.query_id, count(*) AS n_hit
      FROM ex_topk x JOIN ap_topk a
        ON x.query_id = a.query_id AND x.vec_id = a.vec_id
      GROUP BY x.query_id)
    SELECT q.query_id, {_TOPK} AS k,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(round(coalesce(h.n_hit, 0) / {_TOPK}.0, 4) AS DOUBLE)
               AS recall
    FROM (SELECT DISTINCT query_id FROM ex_topk) q
    LEFT JOIN hits h ON q.query_id = h.query_id
    ORDER BY q.query_id
    """,
)
def emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = sim_cosine_topk(spark, sf_dir).select("query_id", "vec_id")
    approx = sim_lsh_bucketed(spark, sf_dir).select("query_id", "vec_id")
    hits = (
        exact.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.lit(_TOPK).alias("k"),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / _TOPK, 4)
            .cast("double")
            .alias("recall"),
        )
        .orderBy("query_id")
    )


# -------------------------------------------------------- emb_pq_topk
# Product quantization + asymmetric distance computation (Jegou et al.
# 2011) — the 4th classic ANN tier next to brute-force / sign-LSH / IVF,
# and the one that changes the SCAN economics: each 64-dim float32
# vector (256 B) is compressed to M=8 sub-space codes into a KC=8-entry
# codebook (8 small ints — a 32x shrink), and search never touches the
# raw embeddings again. ADC scores a query against a code with M table
# lookups instead of DIM multiplies.
#
# Index build (one narrow pass, materialized ONCE): per sub-space
# squared-L2 to each codebook entry as one transform/aggregate fold per
# sub-space, argmin per sub-space as a pure projection,
# then localCheckpoint — the compressed code table IS the artifact a
# production pipeline writes to disk; both the checkpoint and the
# narrow-scan shape are pinned. Codebook entries are deterministic
# literal state (sub-slices of the first KC corpus vectors — the same
# seed protocol as the IVF centroids; emb_kmeans_step is the training
# primitive that would refine them).
#
# Search: the query side precomputes its M per-sub-space distance
# TABLES (KC doubles each) and broadcasts them across the code scan —
# a map-side pass over 8-int rows with 8 element_at lookups per
# candidate, left-to-right summed so the oracle's ordered list_sum
# folds identically. Top-k per query bounded by a WindowGroupLimit.
# At 100 TB: the scan reads ~3% of the raw bytes, the only exchange
# carries per-query top-k-limited candidates, and recall is tuned by
# KC / M / a re-rank pass over the shortlist (compose with
# emb_ann_recall's gate).
_PQ_M = 8           # sub-spaces
_PQ_SUB = _DIM // _PQ_M
_PQ_KC = 8          # codebook entries per sub-space


@_q(
    "emb_pq_topk",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings),
    cb AS (
      SELECT vec_id AS j, emb AS cemb FROM e WHERE vec_id < {_PQ_KC}),
    sd AS (
      SELECT e.vec_id, m.m, cb.j,
             list_sum([(e.emb[m.m * {_PQ_SUB} + i] - cb.cemb[m.m * {_PQ_SUB} + i])
                       * (e.emb[m.m * {_PQ_SUB} + i] - cb.cemb[m.m * {_PQ_SUB} + i])
                       FOR i IN range(1, {_PQ_SUB} + 1)]) AS dist
      FROM e
      CROSS JOIN cb
      CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m) m),
    codes AS (
      SELECT vec_id, m, j AS code FROM sd
      QUALIFY row_number() OVER (
          PARTITION BY vec_id, m ORDER BY dist, j) = 1),
    approx AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             round(list_sum(list(q.dist ORDER BY q.m)), 6) AS approx_dist
      FROM codes c
      JOIN sd q ON q.m = c.m AND q.j = c.code AND q.vec_id < {_N_QUERIES}
      WHERE c.vec_id <> q.vec_id
      GROUP BY 1, 2),
    ranked AS (
      SELECT query_id, vec_id, approx_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_dist, vec_id) AS rnk
      FROM approx)
    SELECT query_id, vec_id, approx_dist, rnk FROM ranked WHERE rnk <= {_TOPK}
    """,
)
def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = _ivf_centroids(spark, sf_dir)  # codebook seed = first KC vectors
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )

    def _subdist_arr(m: int) -> str:
        """Per-sub-space distance TABLE: array of squared L2 to each of
        the KC codebook entries, as ONE transform/aggregate fold over a
        codebook-row literal instead of KC unrolled 8-term chains. The
        unrolled form (M*KC separate exprs) was ~1.5k expression nodes
        per projection and plan_s paid ~0.6 s of catalyst analysis per
        frame build (VERDICT r14 #7); the fold is ~70 nodes per
        sub-space. Numerically identical: aggregate folds left-to-right
        from 0.0D, and 0.0 + t == t bitwise for every square (never
        -0.0), so each entry equals the old left-assoc chain."""
        cb = ", ".join(
            "array("
            + ", ".join(
                f"{cents[j][m * _PQ_SUB + d]!r}D" for d in range(_PQ_SUB)
            )
            + ")"
            for j in range(_PQ_KC)
        )
        off = m * _PQ_SUB
        return (
            f"transform(array({cb}), c -> aggregate("
            f"sequence(0, {_PQ_SUB - 1}), 0D, (acc, d) -> "
            f"acc + (emb[{off} + d] - c[d]) * (emb[{off} + d] - c[d])))"
        )

    # Index build: encode + materialize the compressed code table.
    # array_position -> FIRST index of the min: ties break to the
    # lowest codebook entry, matching the oracle's (dist, j) order.
    dists = e.selectExpr(
        "vec_id", *[f"{_subdist_arr(m)} AS __dm{m}" for m in range(_PQ_M)]
    )
    code_exprs = [
        f"CAST(array_position(__dm{m}, array_min(__dm{m})) - 1 AS INT)"
        f" AS c{m}"
        for m in range(_PQ_M)
    ]
    codes = dists.selectExpr("vec_id", *code_exprs).localCheckpoint(eager=False)

    # Query side: the same per-sub-space distance TABLES (tiny —
    # _N_QUERIES rows), used directly as the ADC lookup arrays.
    qtabs = e.filter(F.col("vec_id") < _N_QUERIES).selectExpr(
        "vec_id AS query_id",
        *[f"{_subdist_arr(m)} AS qt{m}" for m in range(_PQ_M)],
    )

    # ADC scan: broadcast the tables over the code table; M lookups,
    # summed left-to-right (matches the oracle's ordered list_sum fold).
    adc = " + ".join(
        f"element_at(qt{m}, c{m} + 1)" for m in range(_PQ_M)
    )
    scored = (
        codes.crossJoin(F.broadcast(qtabs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .selectExpr(
            "query_id", "vec_id", f"round({adc}, 6) AS approx_dist"
        )
    )
    w = Window.partitionBy("query_id").orderBy("approx_dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
    )


# ---------------------------------------------------- emb_outlier_detect
# Embedding-space outlier triage: the farthest 5% of vectors from their
# k-means cell centroid, per cell — the "catch corrupt/off-manifold
# embeddings before they poison dedup thresholds and ANN recall" pass a
# production pipeline runs right after embedding generation. RANK-based
# (top n/20 by distance within each cell), not z-score-based: the
# cutoff is then exact integer arithmetic — no order-dependent float
# moment sums to desync the oracle — and robust to the heavy tails that
# make outliers outliers.
#
# Scale shape: the cell assignment is the same zero-join literal-
# centroid projection as emb_kmeans_step; the per-cell count and the
# distance rank share ONE hashpartitioning(cluster_id) exchange (both
# windows declare the same partitioning). K cells over N vectors means
# per-cell sorts of N/K rows — at 100 TB, K scales with N (the SemDeDup
# sizing rule), so the per-task sort stays bounded; an approximate
# variant would pre-filter with a per-partition distance quantile
# sketch before the exact rank.
@_q(
    "emb_outlier_detect",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings),
    cents AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> x::DOUBLE) AS cemb
      FROM embeddings WHERE vec_id < {_IVF_K}),
    dists AS (
      SELECT e.vec_id, cid,
             list_sum([(emb[i] - cemb[i]) * (emb[i] - cemb[i])
                       FOR i IN range(1, len(emb) + 1)]) AS dist
      FROM e CROSS JOIN cents),
    assigned AS (
      SELECT vec_id, cid, dist FROM dists
      QUALIFY row_number() OVER (
          PARTITION BY vec_id ORDER BY dist, cid) = 1),
    ranked AS (
      SELECT cid, vec_id, dist,
             row_number() OVER (
                 PARTITION BY cid ORDER BY dist DESC, vec_id) AS rn,
             count(*) OVER (PARTITION BY cid) AS n
      FROM assigned)
    SELECT CAST(cid AS BIGINT) AS cluster_id, vec_id,
           round(dist, 6) AS center_dist, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= greatest(n // 20, 1)
    """,
)
def emb_outlier_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = _ivf_centroids(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    dcols = _sqdist_cols(cents)
    arr = _dots_arr(len(cents))
    assigned = (
        e.select("vec_id", *dcols)
        .withColumn(
            "cluster_id",
            F.expr(
                f"CAST(array_position({arr}, array_min({arr})) - 1 AS BIGINT)"
            ),
        )
        .withColumn("dist", F.expr(f"array_min({arr})"))
        .select("vec_id", "cluster_id", "dist")
    )
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.desc("dist"), "vec_id"
    )
    w_all = Window.partitionBy("cluster_id")
    return (
        assigned.select(
            "cluster_id",
            "vec_id",
            "dist",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_all).alias("n"),
        )
        .filter(F.col("rn") <= F.expr("greatest(n DIV 20, 1L)"))
        .select(
            "cluster_id",
            "vec_id",
            F.round("dist", 6).alias("center_dist"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


# -------------------------------------------------- emb_power_iteration
# One distributed power-iteration step toward the corpus's top singular
# vector — the primitive under PCA whitening, spectral outlier triage,
# and low-rank drift monitors: s = X^T (X v0) for a FIXED deterministic
# seed direction v0, emitted as the pre-norm coordinate, and the
# normalized next iterate. A full power method is this query iterated
# with the driver feeding s/||s|| back as the next v0 literal (the
# emb_kmeans_step contract).
#
# Scale shape: w = <x, v0> is a 64-term codegen'd chain per row, the 64
# per-dim products fold into ONE global aggregate (64 decimal sums —
# map-side partials, a single-row exchange; the corpus is never
# exploded and never shuffled), and the 64-row normalization window is
# constant-size. Float parity: products are pre-rounded to 9dp and
# accumulated in DECIMAL so partial-sum order cannot flip a digit
# (the kmeans playbook); the norm accumulates DECIMAL(20,4) squares of
# the already-rounded coordinates; '+ 0.0' folds negative zero.
_PI_V0 = [((j * 2654435761) % 1000) / 1000.0 - 0.5 for j in range(_DIM)]


def _pi_oracle() -> str:
    wchain = " + ".join(f"emb[{j + 1}] * ({_PI_V0[j]!r})" for j in range(_DIM))
    return f"""
    WITH e AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings),
    r AS (SELECT emb, ({wchain}) AS w FROM e),
    s AS (
      SELECT j.dim,
             round(CAST(sum(CAST(round(r.w * r.emb[j.dim + 1], 9)
                                 AS DECIMAL(28,9))) AS DOUBLE), 4) + 0.0
               AS s_val
      FROM r, LATERAL (SELECT unnest(range(0, {_DIM})) AS dim) j
      GROUP BY 1)
    SELECT CAST(dim AS BIGINT) AS dim, s_val,
           round(s_val / sqrt(CAST(sum(CAST(s_val AS DECIMAL(20,4))
                                       * CAST(s_val AS DECIMAL(20,4)))
                                   OVER () AS DOUBLE)), 6) + 0.0 AS v_next
    FROM s
    """


@_q("emb_power_iteration", _pi_oracle())
def emb_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("emb")
    )
    # Spread the heavy map pass (64 round+DECIMAL casts per row feeding
    # the partial aggregate) when the corpus arrives as one unsplittable
    # input partition — the DECIMAL accumulation is order-independent,
    # so parallel partials are value-identical. Round-robin only; the
    # pin forbidding a corpus hash exchange still holds, and at real
    # scale the guard returns None.
    from ._tables import spread_width

    sw = spread_width(spark, sf_dir, "embeddings")
    if sw:
        e = e.repartition(sw)
    wchain = " + ".join(f"emb[{j}] * ({_PI_V0[j]!r}D)" for j in range(_DIM))
    r = e.select(F.expr(f"({wchain})").alias("w"), "emb")
    agg = r.agg(
        *[
            F.sum(
                F.expr(f"CAST(round(w * emb[{j}], 9) AS DECIMAL(28,9))")
            ).alias(f"__s{j}")
            for j in range(_DIM)
        ]
    )
    stack_args = ", ".join(f"{j}L, __s{j}" for j in range(_DIM))
    s = agg.select(
        F.expr(f"stack({_DIM}, {stack_args}) AS (dim, sdec)")
    ).select(
        F.col("dim").cast("bigint").alias("dim"),
        (F.round(F.col("sdec").cast("double"), 4) + F.lit(0.0)).alias("s_val"),
    )
    norm = F.sqrt(
        F.expr(
            "CAST(sum(CAST(s_val AS DECIMAL(20,4)) * "
            "CAST(s_val AS DECIMAL(20,4))) OVER () AS DOUBLE)"
        )
    )
    return s.select(
        "dim",
        "s_val",
        (F.round(F.col("s_val") / norm, 6) + F.lit(0.0)).alias("v_next"),
    )


# ------------------------------------------------------------- emb_whiten
# Corpus-derived per-dimension standardization (the "whitening" prep under
# PCA / feature-norm steps): w = (x - mu_d) / sqrt(var_d + eps), with mu/var
# MEASURED from the corpus — unlike emb_normalize (per-row) this is a
# two-phase measure-then-apply op, the sample_temperature contract applied
# to vectors. Scale shape: phase 1 is one narrow posexplode pass whose
# map-side partial agg collapses every task to <= DIM rows before the only
# exchange (64 groups total, corpus-size-independent — the emb_kmeans_step
# shuffle shape); phase 2 BROADCASTS the 64-row stats table back over the
# corpus (no corpus shuffle, no driver collect — the stats never leave the
# cluster). Engine parity: sums accumulate in DECIMAL over round(v, 9) /
# round(v*v, 9) terms (order-independent, the playbook trick), mu/var are
# then plain double arithmetic on identical operands, and the output is
# rounded to 6dp with the +0.0 negative-zero fold.
@_q(
    "emb_whiten",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings),
    x AS (
      SELECT vec_id, CAST(gs.i - 1 AS INTEGER) AS dim, emb[gs.i] AS v
      FROM e, range(1, {_DIM} + 1) gs(i)),
    st AS (
      SELECT dim,
             CAST(sum(CAST(round(v, 9) AS DECIMAL(20,9))) AS DOUBLE)
                 / count(*) AS mu,
             CAST(sum(CAST(round(v * v, 9) AS DECIMAL(20,9))) AS DOUBLE)
                 / count(*)
               - (CAST(sum(CAST(round(v, 9) AS DECIMAL(20,9))) AS DOUBLE)
                  / count(*))
                 * (CAST(sum(CAST(round(v, 9) AS DECIMAL(20,9))) AS DOUBLE)
                    / count(*)) AS var
      FROM x GROUP BY dim)
    SELECT x.vec_id, x.dim,
           round((x.v - st.mu) / sqrt(st.var + 1e-9), 6) + 0.0 AS w
    FROM x JOIN st USING (dim)
    WHERE x.vec_id < 100
    """,
)
def emb_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # Spread the stats branch's posexplode + DECIMAL partial aggregate
    # when the corpus arrives as one unsplittable partition (DECIMAL
    # sums are order-independent — value-identical in parallel). The
    # apply branch below keeps the un-spread scan: it only explodes the
    # 100 filtered query vectors.
    from ._tables import spread_width

    es = e
    sw = spread_width(spark, sf_dir, "embeddings")
    if sw:
        es = es.repartition(sw)
    x = es.select("vec_id", F.posexplode("emb").alias("dim", "v"))
    st = (
        x.groupBy("dim")
        .agg(
            F.expr(
                "CAST(sum(CAST(round(v, 9) AS DECIMAL(20,9))) AS DOUBLE)"
            ).alias("s1"),
            F.expr(
                "CAST(sum(CAST(round(v * v, 9) AS DECIMAL(20,9))) AS DOUBLE)"
            ).alias("s2"),
            F.count("*").alias("n"),
        )
        .select(
            "dim",
            (F.col("s1") / F.col("n")).alias("mu"),
            (
                F.col("s2") / F.col("n")
                - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))
            ).alias("var"),
        )
    )
    return (
        e.filter(F.col("vec_id") < 100)
        .select("vec_id", F.posexplode("emb").alias("dim", "v"))
        .join(F.broadcast(st), "dim")
        .select(
            "vec_id",
            "dim",
            (
                F.round(
                    (F.col("v") - F.col("mu"))
                    / F.sqrt(F.col("var") + F.lit(1e-9)),
                    6,
                )
                + F.lit(0.0)
            ).alias("w"),
        )
    )


# -------------------------------------------------------- emb_kcenter_step
# One greedy k-center (farthest-point-first) selection step — the coreset /
# diversity-sampling primitive under "pick the next most-novel documents":
# given the K=8 already-selected seed centers, rank every corpus vector by
# its distance to the NEAREST selected center and emit the top 16 farthest
# (the next greedy picks under the standard independent-batch
# approximation; exact greedy iterates with the driver feeding each pick
# back — the emb_kmeans_step contract). Scale shape: ONE narrow corpus
# pass, one squared-distance fold per center (`_sqdist_cols`), least()
# for the nearest center, and the global cut is a distributed
# TakeOrderedAndProject — the corpus-wide sort never happens (pinned);
# the rank window runs AFTER the 16-row cut.
# Engine parity: distances are identical left-to-right double sums in
# both engines (the kmeans construction), ranking uses the RAW doubles
# with vec_id as tie-break, rounding to 6dp is display-only.
_KCENTER_TOPN = 16


@_q(
    "emb_kcenter_step",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings),
    cents AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> x::DOUBLE) AS cemb
      FROM embeddings WHERE vec_id < {_IVF_K}),
    d AS (
      SELECT e.vec_id,
             min(list_sum([(emb[i] - cemb[i]) * (emb[i] - cemb[i])
                           FOR i IN range(1, len(emb) + 1)])) AS mind
      FROM e CROSS JOIN cents GROUP BY e.vec_id),
    top AS (
      SELECT vec_id, mind,
             row_number() OVER (ORDER BY mind DESC, vec_id) AS rnk
      FROM d)
    SELECT CAST(rnk AS INTEGER) AS rnk, vec_id,
           round(mind, 6) AS min_dist
    FROM top WHERE rnk <= {_KCENTER_TOPN}
    """,
)
def emb_kcenter_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = _ivf_centroids(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    dcols = _sqdist_cols(cents)
    scored = e.select("vec_id", *dcols).select(
        "vec_id",
        F.least(*[F.col(f"__d{i}") for i in range(len(cents))]).alias(
            "mind"
        ),
    )
    top = scored.orderBy(F.col("mind").desc(), "vec_id").limit(
        _KCENTER_TOPN
    )
    w = Window.orderBy(F.col("mind").desc(), "vec_id")
    return top.select(
        F.row_number().over(w).alias("rnk"),
        "vec_id",
        F.round("mind", 6).alias("min_dist"),
    )


# --------------------------------------------------------- sim_range_search
# Radius (threshold) similarity search: ALL corpus vectors within cosine
# >= tau of each query — the other half of the ANN API surface (top-k
# answers "the best k", range answers "everything close enough": dedup
# gating, recall-complete retrieval, abuse-cluster expansion). Exact
# single-pass plan: the tiny query set broadcasts over ONE corpus scan
# and the threshold is a codegen'd filter — unlike top-k there is NO
# window and NO exchange at all; the output is result-sized. At 100 TB
# this is the floor for exact range search (the corpus is read once);
# the approximate path would prefilter with multi-probe LSH at higher
# tau. Engine parity: the sim_cosine_topk contract — identical unrolled
# dot chains, cosine rounded to 6dp BEFORE the threshold compare, so the
# admitted set is engine-identical by construction.
_RANGE_TAU = 0.25


@_q(
    "sim_range_search",
    f"""
    WITH {_CORPUS_ORACLE}
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           {_COS_ORACLE} AS cos_sim
    FROM e q JOIN e c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {_N_QUERIES} AND {_COS_ORACLE} >= {_RANGE_TAU}
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _corpus(spark, sf_dir)
    q = F.broadcast(e.filter(F.col("vec_id") < _N_QUERIES)).alias("q")
    c = e.alias("c")
    return (
        q.join(c, F.col("c.vec_id") != F.col("q.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("vec_id"),
            _cos_spark().alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _RANGE_TAU)
    )


# --------------------------------------------------------- emb_label_drift
# Per-label centroid drift: each label's centroid offset (L2 norm) from
# the GLOBAL corpus centroid — the embedding-space class monitor ("did
# cluster 3's vectors move after the encoder update?") that gates
# retraining of anything keyed on label geometry (routing, IVF cells,
# semantic-dedup thresholds). Scale shape: ONE narrow posexplode pass
# collapses map-side to the (label x dim) matrix before the only
# corpus-fed exchange (the emb_whiten stats contract); the global
# centroid DERIVES from the label sums (exact DECIMAL adds — the corpus
# is never re-read) and joins back BROADCAST per dim; the offset fold
# over 64 dims accumulates in DECIMAL over round(term, 9) so the norm is
# partitioning-order-proof. All downstream grains are labels x dims.
@_q(
    "emb_label_drift",
    """
    WITH x AS (
      SELECT label, CAST(gs.i - 1 AS INTEGER) AS dim,
             embedding[gs.i]::DOUBLE AS v
      FROM embeddings, range(1, 65) gs(i)),
    ld AS (
      SELECT label, dim,
             sum(CAST(round(v, 9) AS DECIMAL(20,9))) AS s,
             count(*) AS n
      FROM x GROUP BY 1, 2),
    g AS (
      SELECT dim, sum(s) AS sg, sum(n) AS ng FROM ld GROUP BY 1),
    terms AS (
      SELECT ld.label, ld.n,
             (CAST(ld.s AS DOUBLE) / ld.n - CAST(g.sg AS DOUBLE) / g.ng)
             * (CAST(ld.s AS DOUBLE) / ld.n - CAST(g.sg AS DOUBLE) / g.ng)
                 AS t
      FROM ld JOIN g ON g.dim = ld.dim)
    SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
           round(sqrt(CAST(sum(CAST(round(t, 9) AS DECIMAL(20,9)))
                           AS DOUBLE)), 6) AS offset_norm
    FROM terms GROUP BY label
    """,
)
def emb_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    x = e.select("label", F.posexplode("emb").alias("dim", "v"))
    # The matrix feeds TWO branches (global derivation + per-label terms):
    # without materialization Catalyst re-derives each branch from the raw
    # corpus scan (observed: 2 parquet scans of the full table for a
    # labels x 64 intermediate) — the dedup_minhash_lsh signature-table
    # lesson. The checkpoint is labels x dims rows, trivially small.
    ld = (
        x.groupBy("label", "dim")
        .agg(
            F.expr("sum(CAST(round(v, 9) AS DECIMAL(20,9)))").alias("s"),
            F.count("*").alias("n"),
        )
        .localCheckpoint(eager=False)
    )
    g = ld.groupBy("dim").agg(
        F.sum("s").alias("sg"), F.sum("n").alias("ng")
    )
    mu_l = F.col("s").cast("double") / F.col("n")
    mu_g = F.col("sg").cast("double") / F.col("ng")
    terms = ld.join(F.broadcast(g), "dim").select(
        "label", "n", ((mu_l - mu_g) * (mu_l - mu_g)).alias("t")
    )
    return terms.groupBy("label").agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.round(
            F.sqrt(
                F.expr(
                    "CAST(sum(CAST(round(t, 9) AS DECIMAL(20,9))) "
                    "AS DOUBLE)"
                )
            ),
            6,
        ).alias("offset_norm"),
    )


# ------------------------------------------------------ sim_hard_negatives
# Hard-negative mining for contrastive training (the batch-construction
# step behind every dual-encoder / CLIP-style run): for each query
# vector, the top-k most-SIMILAR corpus vectors carrying a DIFFERENT
# label — maximally confusing negatives, where random negatives teach
# nothing. Same exact-scan scale shape as sim_cosine_topk (tiny query
# set broadcast over one corpus pass, per-query top-k window with
# WindowGroupLimit pushdown); the label-mismatch predicate rides the
# join condition so matched-label rows never reach the window. At
# production scale the corpus side narrows to the query's IVF cell
# first — the same composition sim_ivf_topk registers.
@_q(
    "sim_hard_negatives",
    f"""
    WITH e2 AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> x::DOUBLE) AS emb,
             sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
                            FOR i IN range(1, len(embedding) + 1)])) AS nrm
      FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id, c.label AS neg_label,
             round(list_sum([q.emb[i] * c.emb[i]
                             FOR i IN range(1, len(q.emb) + 1)])
                   / (q.nrm * c.nrm), 6) AS cos_sim
      FROM e2 q JOIN e2 c
        ON c.vec_id <> q.vec_id AND c.label <> q.label
      WHERE q.vec_id < {_N_QUERIES}),
    ranked AS (
      SELECT query_id, vec_id, neg_label, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored)
    SELECT query_id, vec_id, neg_label, cos_sim, rnk
    FROM ranked WHERE rnk <= {_TOPK}
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("emb"),
    ).withColumn("nrm", F.sqrt(F.expr(_fold("emb", "emb"))))
    q = F.broadcast(e.filter(F.col("vec_id") < _N_QUERIES)).alias("q")
    c = e.alias("c")
    scored = q.join(
        c,
        (F.col("c.vec_id") != F.col("q.vec_id"))
        & (F.col("c.label") != F.col("q.label")),
    ).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("vec_id"),
        F.col("c.label").alias("neg_label"),
        _cos_spark().alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _TOPK
    )


# ------------------------------------------------- corpus_embedding_audit
# Cross-modal completeness audit: per language, how much of the text
# corpus actually HAS an embedding row (the feature-coverage gate run
# before any vector-dependent stage — semantic dedup, ANN retrieval,
# clustering — so missing features fail loudly, not as silent row loss
# in an inner join), plus the norm profile (mean/min/max L2) — the
# contract check that catches un-normalized encoder updates: every
# indexing and cosine path downstream assumes nrm == 1, and a mean that
# drifts off 1.0 (or a min/max spread) is the first symptom.
#
# Scale shape: ONE equi-join on the id (broadcast at bench scale; at
# 100 TB both sides arrive hash-partitioned on the id — never a nested
# loop), then a lang-grain two-phase fold. Engine parity: counts are
# exact ints; the mean is a DECIMAL sum of round(nrm, 9) (norms are the
# same left-to-right IEEE fold both sides); min/max round on output.
@_q(
    "corpus_embedding_audit",
    f"""
    WITH {_CORPUS_ORACLE},
    j AS (
      SELECT d.lang, e.nrm AS yy
      FROM documents d LEFT JOIN e ON d.doc_id = e.vec_id)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(yy) AS BIGINT) AS n_with_vec,
           round(CAST(count(yy) AS DOUBLE) / count(*), 6) AS coverage,
           round(CAST(sum(CAST(round(yy, 9) AS DECIMAL(38,9))) AS DOUBLE)
                 / count(yy), 6) AS mean_norm,
           round(min(yy), 6) AS min_norm,
           round(max(yy), 6) AS max_norm
    FROM j GROUP BY lang
    """,
)
def corpus_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    # _corpus: the audit profiles the very norm every cosine divides by.
    e = _corpus(spark, sf_dir).select("vec_id", "nrm")
    j = d.join(e, d.doc_id == e.vec_id, "left").select(
        "lang", F.col("nrm").alias("yy")
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count("yy").cast("bigint").alias("n_with_vec"),
        F.round(F.count("yy").cast("double") / F.count(F.lit(1)), 6).alias(
            "coverage"
        ),
        F.round(
            F.expr(
                "CAST(sum(CAST(round(yy, 9) AS DECIMAL(38,9))) AS DOUBLE)"
            )
            / F.count("yy"),
            6,
        ).alias("mean_norm"),
        F.round(F.min("yy"), 6).alias("min_norm"),
        F.round(F.max("yy"), 6).alias("max_norm"),
    )


# ------------------------------------------------------ emb_cluster_purity
# Clustering-quality gate: per k-means cell (the same K=8 literal seed
# centroids every ANN/semantic-dedup op here trains against), the
# majority label's share — the purity audit that decides whether a
# clustering is good enough to gate label-aware work (routing, semantic
# dedup thresholds, stratified eval splits). Low-purity cells mean the
# cell geometry and the label geometry disagree — re-train before
# trusting cluster-bounded shortcuts.
#
# Scale shape: assignment is the emb_kmeans_step contract — K separate
# codegen'd distance chains, argmin projection, ZERO joins (the label
# rides the same scan row). The only corpus-fed exchange carries
# (cell, label) partial counts — K x |labels| groups regardless of
# corpus size; the majority window runs over that tiny aggregate.
# Engine parity: counts are exact ints, majority ties break to the
# smallest label, purity = int/int rounded 6dp.
@_q(
    "emb_cluster_purity",
    f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings),
    cents AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> x::DOUBLE) AS cemb
      FROM embeddings WHERE vec_id < {_IVF_K}),
    dists AS (
      SELECT e.vec_id, e.label, cid,
             list_sum([(emb[i] - cemb[i]) * (emb[i] - cemb[i])
                       FOR i IN range(1, len(emb) + 1)]) AS dist
      FROM e CROSS JOIN cents),
    assigned AS (
      SELECT vec_id, label, cid AS cluster_id FROM dists
      QUALIFY row_number() OVER (
          PARTITION BY vec_id ORDER BY dist, cid) = 1),
    cells AS (
      SELECT cluster_id, label, count(*) AS c
      FROM assigned GROUP BY cluster_id, label),
    ranked AS (
      SELECT cluster_id, label, c,
             sum(c) OVER (PARTITION BY cluster_id) AS n,
             count(*) OVER (PARTITION BY cluster_id) AS n_labels,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY c DESC, label) AS rn
      FROM cells)
    SELECT cluster_id,
           CAST(n AS BIGINT) AS n_vectors,
           CAST(n_labels AS BIGINT) AS n_labels,
           CAST(label AS INTEGER) AS majority_label,
           round(CAST(c AS DOUBLE) / n, 6) AS purity
    FROM ranked WHERE rn = 1
    """,
)
def emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = _ivf_centroids(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    dcols = _sqdist_cols(cents)
    arr = _dots_arr(len(cents))
    cells = (
        e.select("label", *dcols)
        .withColumn(
            "cluster_id",
            F.expr(
                f"CAST(array_position({arr}, array_min({arr})) - 1 AS BIGINT)"
            ),
        )
        .groupBy("cluster_id", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wc = Window.partitionBy("cluster_id")
    wr = Window.partitionBy("cluster_id").orderBy(F.col("c").desc(), "label")
    return (
        cells.select(
            "cluster_id",
            "label",
            "c",
            F.sum("c").over(wc).alias("n"),
            F.count(F.lit(1)).over(wc).alias("n_labels"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("n").cast("bigint").alias("n_vectors"),
            F.col("n_labels").cast("bigint").alias("n_labels"),
            F.col("label").cast("int").alias("majority_label"),
            F.round(F.col("c").cast("double") / F.col("n"), 6).alias(
                "purity"
            ),
        )
    )


# ---------------------------------------------------------- sim_rrf_fusion
# Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval tiers:
# the exact brute-force cosine ranking and the sign-LSH bucketed
# ranking, fused as RRF(d) = Σ 1/(60 + rank_s(d)) over the systems that
# returned d — the standard no-tuning ensemble every hybrid retrieval
# stack runs (dense + sparse, exact + approximate). Documents surfaced
# by BOTH tiers rise; LSH-only artifacts sink.
#
# Scale shape: both inputs are the registered plans (broadcast query
# set, WindowGroupLimit top-k each); fusion is a FULL outer equi-join
# of two O(queries x k) tables — candidate-sized, never corpus-sized —
# and the fused top-10 window runs over that. Engine parity: ranks are
# exact ints so RRF terms are identical doubles; score rounded 6dp
# BEFORE the rank (round-before-sort), ties to vec_id.
_RRF_K = 60
_RRF_TOPK = 10


@_q(
    "sim_rrf_fusion",
    f"""
    WITH {_CORPUS_ORACLE},
    ex_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {_COS_ORACLE} AS cos_sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_N_QUERIES}),
    ex_ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM ex_scored QUALIFY rnk <= {_TOPK}),
    eb AS (SELECT vec_id, emb, nrm, {_BUCKET_DUCK} AS bucket FROM e),
    lsh_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {_COS_ORACLE} AS cos_sim
      FROM eb q JOIN eb c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {_N_QUERIES}),
    lsh_ranked AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM lsh_scored QUALIFY rnk <= {_TOPK}),
    fused AS (
      SELECT coalesce(a.query_id, b.query_id) AS query_id,
             coalesce(a.vec_id, b.vec_id) AS vec_id,
             round(coalesce(1.0 / ({_RRF_K} + a.rnk), 0)
                   + coalesce(1.0 / ({_RRF_K} + b.rnk), 0), 6) AS rrf,
             (a.rnk IS NOT NULL AND b.rnk IS NOT NULL) AS in_both
      FROM ex_ranked a FULL JOIN lsh_ranked b
        ON a.query_id = b.query_id AND a.vec_id = b.vec_id)
    SELECT query_id, vec_id, rrf, in_both,
           CAST(fr AS INTEGER) AS fused_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, vec_id) AS fr
          FROM fused)
    WHERE fr <= {_RRF_TOPK}
    """,
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = sim_cosine_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.col("rnk").alias("ra")
    )
    lsh = sim_lsh_bucketed(spark, sf_dir).select(
        "query_id", "vec_id", F.col("rnk").alias("rb")
    )
    fused = ex.join(lsh, ["query_id", "vec_id"], "full").select(
        "query_id",
        "vec_id",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("ra")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("rb")), F.lit(0.0)),
            6,
        ).alias("rrf"),
        (F.col("ra").isNotNull() & F.col("rb").isNotNull()).alias(
            "in_both"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), "vec_id")
    return (
        fused.withColumn("fr", F.row_number().over(w))
        .filter(F.col("fr") <= _RRF_TOPK)
        .select(
            "query_id", "vec_id", "rrf", "in_both",
            F.col("fr").cast("int").alias("fused_rank"),
        )
    )


# ------------------------------------------------------------ emb_knn_graph
# k-NN graph construction: every corpus vector's top-5 neighbors within
# its sign-LSH bucket — the semantic-graph builder behind graph-based
# dedup (connected components over kNN edges), kNN-LM retrieval, and
# label propagation. This is sim_lsh_bucketed WITHOUT the query-set
# restriction: all N vectors are queries, so the blocked plan is the
# only viable one (brute force is N² scoring; bucketing bounds work to
# Σ|bucket|² — raise the plane count to keep buckets bounded at scale).
#
# Scale shape: ONE bucket-keyed equi-self-join over the checkpointed
# bucketized corpus (never a cross join); per-vector top-k rides a
# WindowGroupLimit under the one (vec) exchange. Engine parity: cosine
# rounded 6dp BEFORE the rank (round-before-sort), ties to neighbor id.
_KNN_K = 5
# 6 planes (64 buckets) instead of the query-path default 4: with ALL
# vectors as queries the join cost is Σ|bucket|², so halving bucket
# size is a 4x — measured 7.5 s -> ~2 s at sf0.1 with avg bucket ~78
# (still >> k=5 neighbors per bucket).
_KNN_PLANES = 6
_KNN_BUCKET_SPARK = lsh_bucket_expr(_KNN_PLANES, dialect="spark")
_KNN_BUCKET_DUCK = lsh_bucket_expr(_KNN_PLANES, dialect="duckdb")
# Sub-bucket block size for the salted pair join: a bucket of n rows is
# split into ceil(n/B) hash blocks and the self-join runs per block
# pair, so no task ever owns more than B² cosine evaluations. B trades
# straggler bound against replication (each side ships ceil(n/B) copies
# of its bucket rows): production sizes it so B² cosines ≈ one task's
# worth of compute and replication stays affordable for the hottest
# expected bucket.
_KNN_BLOCK = 128


@_q(
    "emb_knn_graph",
    f"""
    WITH {_CORPUS_ORACLE},
    eb AS (SELECT vec_id, emb, nrm, {_KNN_BUCKET_DUCK} AS bucket FROM e),
    scored AS (
      SELECT q.vec_id AS src, c.vec_id AS dst,
             {_COS_ORACLE} AS cos_sim
      FROM eb q JOIN eb c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id)
    SELECT src, dst, cos_sim, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT src, dst, cos_sim,
                 row_number() OVER (PARTITION BY src
                                    ORDER BY cos_sim DESC, dst) AS rnk
          FROM scored)
    WHERE rnk <= {_KNN_K}
    """,
)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Salted sub-bucket PAIR BLOCKING (guide §2.5/§3): joining directly
    # on `bucket` makes one task own a whole bucket's |b|² pair loop —
    # a hot bucket (the LSH failure mode at scale) becomes a one-task
    # straggler, and a user width-pin on the bucket key would FORECLOSE
    # AQE's skew split (it cannot split a single key anyway). Instead
    # each bucket is split into nb = ceil(|b|/B) deterministic hash
    # blocks and the join runs per block PAIR (bucket, bi, bj): per-key
    # work is bounded by B² cosines no matter how hot the bucket, so
    # Σ|b|² spreads evenly at any scale. Each side is replicated nb ways
    # (tiny per-bucket counts broadcast back; nb = 1 and the explode is
    # a no-op until a bucket outgrows B).
    eb = (
        _corpus(spark, sf_dir)
        .withColumn("bucket", F.expr(_KNN_BUCKET_SPARK))
        .localCheckpoint(eager=False)
    )
    nb = eb.groupBy("bucket").agg(
        F.expr(f"(count(1) + {_KNN_BLOCK - 1}) div {_KNN_BLOCK}").alias("nb")
    )
    # Deterministic block id (guide §2.5: never rand() — retries must
    # reproduce the assignment); pmod keeps it in [0, nb).
    ebn = eb.join(F.broadcast(nb), "bucket").withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.col("nb"))
    )
    q = ebn.select(
        "bucket", "vec_id", "emb", "nrm",
        F.col("blk").alias("bi"),
        F.explode(F.expr("sequence(0L, nb - 1)")).alias("bj"),
    )
    c = ebn.select(
        "bucket", "vec_id", "emb", "nrm",
        F.explode(F.expr("sequence(0L, nb - 1)")).alias("bi"),
        F.col("blk").alias("bj"),
    )
    # GUARDED width pin (VERDICT r14 #3): only when the corpus scans at
    # fewer splits than the cluster has cores (a single-row-group local
    # fixture) does AQE's byte-targeted coalescing collapse the tiny
    # shuffle to ONE task under the pair loop — pin the width there. On
    # a big corpus the guard returns None and AQE owns the exchange
    # (coalescing AND skew split stay available; the salted key makes
    # the latter effective).
    from ._tables import spread_width

    sw = spread_width(spark, sf_dir, "embeddings")
    if sw:
        q = q.repartition(sw, "bucket", "bi", "bj")
        c = c.repartition(sw, "bucket", "bi", "bj")
    scored = (
        q.alias("q")
        .hint("shuffle_hash")
        .join(c.alias("c"), ["bucket", "bi", "bj"])
        .filter(F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("src"),
            F.col("c.vec_id").alias("dst"),
            _cos_spark().alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), "dst")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNN_K)
        .select("src", "dst", "cos_sim", F.col("rnk").cast("int").alias("rnk"))
    )


# ---------------------------------------------------------- sim_mmr_rerank
# Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998),
# one greedy step: given each query's exact top-10, the first pick is
# rank-1; the SECOND pick maximizes λ·sim(q,c) − (1−λ)·sim(p1,c) —
# trading relevance against redundancy with the already-picked result.
# This is the diversity pass every retrieval stack runs between ANN
# and the consumer (near-identical passages waste a context window);
# full MMR iterates this step with the driver feeding picks back (the
# kmeans/kcenter contract).
#
# Scale shape: the candidate set is O(queries × k) (the registered
# top-k plan produces it); the pairwise redundancy cosine joins
# candidate ids back to the corpus TWICE by id (broadcast at bench
# scale — candidate-sized, never corpus²); the argmax is a per-query
# window over ≤ k−1 rows. Engine parity: both cosines are the shared
# fold-order expressions rounded 6dp; the MMR score rounds BEFORE the
# argmax (round-before-sort), ties to vec_id.
_MMR_L = 0.7


@_q(
    "sim_mmr_rerank",
    f"""
    WITH {_CORPUS_ORACLE},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {_COS_ORACLE} AS cos_sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_N_QUERIES}),
    topk AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored QUALIFY rnk <= {_TOPK}),
    p1 AS (SELECT query_id, vec_id AS p1_id FROM topk WHERE rnk = 1),
    mmr AS (
      SELECT t.query_id, t.vec_id, t.cos_sim AS relevance,
             round(list_sum([p.emb[i] * c.emb[i]
                             FOR i IN range(1, len(p.emb) + 1)])
                   / (p.nrm * c.nrm), 6) AS redundancy
      FROM topk t
      JOIN p1 ON t.query_id = p1.query_id
      JOIN e p ON p1.p1_id = p.vec_id
      JOIN e c ON t.vec_id = c.vec_id
      WHERE t.rnk > 1),
    ranked AS (
      SELECT query_id, vec_id, relevance, redundancy,
             round({_MMR_L} * relevance
                   - {1 - _MMR_L} * redundancy, 6) AS mmr_score
      FROM mmr)
    SELECT query_id, vec_id, relevance, redundancy, mmr_score
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY mmr_score DESC, vec_id)
                      AS pick
          FROM ranked)
    WHERE pick = 1
    """,
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    top = sim_cosine_topk(spark, sf_dir).localCheckpoint(eager=False)
    p1 = top.filter(F.col("rnk") == 1).select(
        "query_id", F.col("vec_id").alias("p1_id")
    )
    cand = top.filter(F.col("rnk") > 1).select(
        "query_id", "vec_id", F.col("cos_sim").alias("relevance")
    )
    e = _corpus(spark, sf_dir)
    p = e.select(
        F.col("vec_id").alias("p1_id"),
        F.col("emb").alias("pemb"),
        F.col("nrm").alias("pnrm"),
    )
    c = e.select(
        F.col("vec_id").alias("vec_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    mmr = (
        cand.join(F.broadcast(p1), "query_id")
        .join(F.broadcast(p), "p1_id")
        .join(c, "vec_id")
        .withColumn(
            "redundancy",
            F.round(
                F.expr(dot_expr("pemb", "cemb"))
                / (F.col("pnrm") * F.col("cnrm")),
                6,
            ),
        )
        .withColumn(
            "mmr_score",
            F.round(
                _MMR_L * F.col("relevance")
                - (1 - _MMR_L) * F.col("redundancy"),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("mmr_score").desc(), "vec_id"
    )
    return (
        mmr.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") == 1)
        .select("query_id", "vec_id", "relevance", "redundancy", "mmr_score")
    )
