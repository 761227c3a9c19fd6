"""Training-data pipeline operators over ``documents`` — chunking,
TF-IDF keywords, corpus mixing, and sequence packing (no reference
analogue; the round brief's "operations a large-scale training-data
pipeline would need").

Scale shapes, per operator:

- ``doc_chunk``: one narrow scan; the chunk expansion is a per-row
  ``posexplode`` (no shuffle — output partitioning inherits the scan).
  At 100 TB chunking is embarrassingly parallel; the only cost is the
  write amplification of overlap, which is the configured 16/64 = 25%.
- ``text_tfidf_topk``: one exchange keyed by doc spreads the documents;
  tokenizing, the exact per-(doc, term) counts and the per-doc top-k
  window all ride it. Document frequencies come from those counts over
  one exchange keyed by the 64-bit term fingerprint (the term itself
  stays part of the group), and are broadcast back (vocabulary ≪
  corpus), so the counted side is never reshuffled.
- ``corpus_mix``: pure hash arithmetic — a codegen'd filter (downsample)
  plus a per-row ``explode(sequence())`` (upsample/epochs); zero joins,
  zero pre-aggregation shuffles. Exactly how production mixture recipes
  run: membership is DERIVED from a hash, never stored, so re-runs and
  restarts agree for free.
- ``seq_pack``: running-total packing per (lang) stream — one shuffle to
  co-locate each stream, a window cumsum, integer division into packs.
  At 100 TB the stream key needs enough cardinality to spread (lang
  alone would skew; production uses (lang, shard) — noted inline).

All four are paired with exact DuckDB oracles: token splitting uses the
same regex, hashes are md5-based (engine-portable), floats are rounded
identically before comparison or ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._registry import make_registry
from ._tables import load, spread_width

QUERIES: dict = {}
_q = make_registry(QUERIES)

# Same whitespace tokenizer as queries/text.py (and its SQL-literal form).
_WS = r"\s+"
_WS_SQL = r"\\s+"

# Chunking geometry: 64-token windows, 16-token overlap -> stride 48.
_CHUNK = 64
_STRIDE = 48

# Vocab-size scalars per corpus file state (see text_bigram_logprob).
_VSIZE_CACHE: dict = {}

# ---------------------------------------------------------- doc_chunk
# Sliding-window chunking: every document becomes ceil-spread fixed-size
# token windows (the prep step before tokenization/embedding). chunk 0
# covers tokens [1, 64], chunk i covers [i*48+1, i*48+64]. Chunks are
# emitted as (doc_id, chunk_id, token count, md5 of the chunk text) —
# the hash stands in for the chunk body so the oracle compare stays
# compact while still pinning the exact content.
@_q(
    "doc_chunk",
    f"""
    SELECT doc_id, chunk_id,
           len(toks[chunk_id * {_STRIDE} + 1 : chunk_id * {_STRIDE} + {_CHUNK}])
               AS n_chunk_tokens,
           md5(array_to_string(
               toks[chunk_id * {_STRIDE} + 1 : chunk_id * {_STRIDE} + {_CHUNK}],
               ' ')) AS chunk_hash
    FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0, greatest(
                   CAST(ceil((len(toks) - {_CHUNK}) / {_STRIDE}.0) AS BIGINT),
                   0))) AS chunk_id
        FROM (
            SELECT doc_id, regexp_split_to_array(text, '{_WS}') AS toks
            FROM documents
        )
    )
    """,
)
def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", _WS).alias("toks"))
    n_chunks = F.greatest(
        F.ceil((F.size("toks") - F.lit(_CHUNK)) / F.lit(float(_STRIDE))),
        F.lit(0),
    )
    chunked = toks.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks)).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("toks"), F.col("chunk_id") * _STRIDE + 1, _CHUNK
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.size(piece).alias("n_chunk_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_hash"),
    )


# ----------------------------------------------------- text_tfidf_topk
# Per-document top-3 keywords by TF-IDF over the whitespace vocabulary.
# Deterministic across engines: the score is ROUNDED to 6 decimals BEFORE
# ranking and ties break on the term itself, so float noise can't flip
# the cutoff.
_TFIDF_K = 3


def _term_fingerprint(term):
    """64-bit xxhash64 fingerprint of a term column: the shuffle key."""
    return F.xxhash64(term)


@_q(
    "text_tfidf_topk",
    f"""
    WITH terms AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '{_WS}')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM terms GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rnk
    FROM (
        SELECT doc_id, term, tfidf,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term
               ) AS rnk
        FROM scored
    )
    WHERE rnk <= {_TFIDF_K}
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Driver scalar reused as a literal — memoized per input-file state
    # (the count job otherwise re-runs on every frame build).
    from ._tables import _df_cache_key

    nk = _df_cache_key(spark, sf_dir, "documents")
    n_docs = _VSIZE_CACHE.get(("n_docs", nk)) if nk is not None else None
    if n_docs is None:
        n_docs = d.count()
        if nk is not None:
            _VSIZE_CACHE[("n_docs", nk)] = n_docs
    # Tokenize on every core: a small corpus file is a single split, so
    # spread the documents by doc_id first. tf groups on the exact term
    # and rides that partitioning with no exchange; df counts tf's rows
    # per term, shuffled on the 8-byte fingerprint only; the window below
    # rides doc_id too. Two terms sharing a fingerprint stay two terms.
    d = d.repartition(
        spread_width(spark, sf_dir) or spark.sparkContext.defaultParallelism,
        "doc_id",
    )
    tf = (
        d.select("doc_id", F.explode(F.split("text", _WS)).alias("term"))
        .groupBy("doc_id", _term_fingerprint(F.col("term")).alias("th"), "term")
        .agg(F.count("*").alias("tf"))
    )
    df_rel = (
        tf.select("th", "term").repartition("th")
        .groupBy("th", "term").agg(F.count("*").alias("df"))
    )
    # vocabulary ≪ corpus: broadcast the df relation so the tf side (the
    # big one) is never reshuffled for the join
    scored = tf.join(F.broadcast(df_rel), ["th", "term"]).select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TFIDF_K)
        .select("doc_id", "term", "tfidf", "rnk")
    )


# --------------------------------------------------------- corpus_mix
# Weighted corpus mixture: per-source sampling rates (downsample) plus
# integer epoch factors (upsample) — the recipe step that turns N raw
# corpora into one training mix. Membership and repetition are both
# DERIVED (hash + CASE), never materialized.
_MIX_HASH_SPARK = (
    "conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) % 100"
)
_MIX_HASH_DUCK = "('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100"
# keep-rate percent by source bucket; epochs by source bucket
_RATE_CASE = (
    "CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0 THEN 100 "
    "WHEN CAST(substr(source, 4) AS INT) % 3 = 1 THEN 60 ELSE 30 END"
)
_EPOCH_CASE = (
    "CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0 THEN 2 ELSE 1 END"
)


@_q(
    "corpus_mix",
    f"""
    SELECT source,
           count(*) AS n_rows,
           count(DISTINCT doc_id) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_in_mix
    FROM (
        SELECT source, doc_id, n_chars,
               unnest(generate_series(1, {_EPOCH_CASE})) AS epoch
        FROM documents
        WHERE {_MIX_HASH_DUCK} < {_RATE_CASE}
    )
    GROUP BY source ORDER BY source
    """,
)
def corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    kept = d.filter(F.expr(f"{_MIX_HASH_SPARK} < {_RATE_CASE}"))
    repeated = kept.select(
        "source",
        "doc_id",
        "n_chars",
        F.explode(
            F.sequence(F.lit(1), F.expr(_EPOCH_CASE))
        ).alias("epoch"),
    )
    return (
        repeated.groupBy("source")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars_in_mix"),
        )
        .orderBy("source")
    )


# ----------------------------------------------------------- seq_pack
# Sequence packing: stream documents (ordered by doc_id within each lang)
# into fixed token-budget packs — the batch-construction step before
# training. Pack membership is the running token total divided by the
# budget: doc d lands in pack floor(tokens_before_d / B). A document
# starting inside pack p but overflowing it stays in p (the tokenizer
# truncates/continues at the boundary); this is the standard
# "contiguous fill" packing and is exactly window-expressible — no UDF,
# no recursion, identical in both engines.
#
# 100 TB note: PARTITION BY lang alone would funnel each language through
# one task; production packs per (lang, shard) with shard = hash(doc_id)
# % n_shards, which keeps the same semantics per shard and spreads the
# cumsum. The lang-only form here matches the oracle exactly.
_PACK_BUDGET = 512


@_q(
    "seq_pack",
    f"""
    WITH sized AS (
        SELECT lang, doc_id,
               len(regexp_split_to_array(text, '{_WS}')) AS n_tokens
        FROM documents
    ),
    placed AS (
        SELECT lang, doc_id, n_tokens,
               CAST(floor(
                   (sum(n_tokens) OVER (
                        PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) - n_tokens) / {_PACK_BUDGET}.0
               ) AS BIGINT) AS pack_id
        FROM sized
    )
    SELECT lang, pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM placed
    GROUP BY lang, pack_id ORDER BY lang, pack_id
    """,
)
def seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sized = d.select(
        "lang", "doc_id", F.size(F.split("text", _WS)).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = sized.withColumn(
        "pack_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            / F.lit(float(_PACK_BUDGET))
        ),
    )
    return (
        placed.groupBy("lang", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .orderBy("lang", "pack_id")
    )


# ----------------------------------------------- text_decontaminate
# Eval-set decontamination: flag training documents sharing any 13-gram
# with the benchmark set (docs 0..9 stand in for the eval benchmark) —
# the standard leakage gate run before every training job. Shingles are
# xxhash64-fingerprinted (8 bytes each, not the text), DISTINCT per doc,
# and the benchmark's shingle set is BROADCAST — at 100 TB the train side
# is never shuffled for the probe; cost is one scan + a map-side hash probe.
_DECON_N = 13


def _shingle_expr(dialect: str) -> str:
    n = _DECON_N
    if dialect == "spark":
        # sequence(1, 0) counts DOWN in Spark — guard docs shorter than
        # one shingle with an explicit empty array.
        # xxhash64 fingerprint, NOT md5 (r15, guide §2.3): the shingle
        # value is internal-only (output is per-doc counts), and the md5
        # form rendered as a 32-char hex STRING — 4x the bytes of an
        # 8-byte long across the two matched-shingle exchanges AND the
        # broadcast benchmark set, plus a cryptographic hash of every
        # 13-gram where a fast non-crypto fingerprint routes
        # identically. The DuckDB oracle keeps md5 (it has no xxhash64);
        # equality of the doc-level RESULTS is what the oracle gate
        # checks, at every SF.
        return (
            f"CASE WHEN size(toks) >= {n} THEN "
            f"transform(sequence(1, size(toks) - {n - 1}), "
            f"i -> xxhash64(array_join(slice(toks, i, {n}), ' '))) "
            "ELSE CAST(array() AS ARRAY<BIGINT>) END"
        )
    return (
        f"[md5(array_to_string(toks[i:i+{n - 1}], ' ')) "
        f"FOR i IN range(1, greatest(len(toks) - {n - 2}, 1))]"
    )


@_q(
    "text_decontaminate",
    f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(text, '{_WS}') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, s
        FROM (
            SELECT doc_id, unnest({_shingle_expr("duckdb")}) AS s
            FROM toks
        )
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
    hits AS (
        SELECT sh.doc_id, count(*) AS n_shared_shingles
        FROM sh JOIN bench USING (s)
        WHERE sh.doc_id >= 10
        GROUP BY sh.doc_id
    )
    SELECT t.doc_id,
           coalesce(h.n_shared_shingles, 0) AS n_shared_shingles,
           coalesce(h.n_shared_shingles, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) t
    LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Spread the 13-gram md5 explode to cluster width when the corpus
    # arrives as one unsplittable input partition (see
    # _tables.spread_width): the train-side probe is map-side (broadcast
    # bench set), so without the spread the whole shingling + probe pass
    # runs on one core. Round-robin only — the scale pin forbidding a
    # train-side hash exchange still holds, and the bench branch's
    # doc_id < 10 filter pushes below the repartition.
    w = spread_width(spark, sf_dir, "documents")
    if w:
        d = d.repartition(w)
    # NO pre-join distinct on the train shingles: dedup lives in the
    # count_distinct AFTER the broadcast probe, so the only rows that
    # ever shuffle are the MATCHED shingles (contamination hits — a
    # vanishing fraction of the corpus). A (doc_id, s) distinct before
    # the join — the r7 shape — re-shuffled every 13-gram of the train
    # side, which is exactly the at-scale cost this operator exists to
    # avoid. The benchmark side's distinct is benchmark-sized.
    sh = (
        d.select("doc_id", F.split("text", _WS).alias("toks"))
        .select(
            "doc_id",
            F.explode(F.expr(_shingle_expr("spark"))).alias("s"),
        )
    )
    bench = sh.filter(F.col("doc_id") < 10).select("s").distinct()
    hits = (
        sh.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count_distinct("s").alias("n_shared_shingles"))
    )
    train = d.filter(F.col("doc_id") >= 10).select("doc_id")
    return train.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shared_shingles", F.lit(0)).alias(
            "n_shared_shingles"
        ),
        (F.coalesce("n_shared_shingles", F.lit(0)) > 0).alias(
            "contaminated"
        ),
    )


# --------------------------------------------------- events_sessionize
# Batch sessionization: per-user event streams cut at 30-minute
# inactivity gaps (the batch twin of the streaming session window id).
# One window pass computes the gap flags, a running sum numbers the
# sessions, and the aggregate REUSES the same (user) partitioning — two
# exchanges total (hash by user + output sort). Tie-break on event_id
# makes the ordering total, so both engines cut identical sessions.
_SESSION_GAP_S = 30 * 60


@_q(
    "events_sessionize",
    f"""
    WITH ordered AS (
        SELECT user_id, event_id, ts,
               epoch_us(ts) - epoch_us(
                   lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   )
               ) AS gap_us
        FROM events
    ),
    numbered AS (
        SELECT user_id, event_id, ts,
               sum(CASE WHEN gap_us IS NULL
                        OR gap_us > {_SESSION_GAP_S} * 1000000
                        THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
        FROM ordered
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
               AS duration_s
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_order))
    numbered = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(
            F.when(
                gap.isNull() | (gap > _SESSION_GAP_S * 1_000_000), 1
            ).otherwise(0)
        ).over(w_run).alias("session_id"),
    )
    return (
        numbered.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / F.lit(1_000_000)
            ).cast("bigint").alias("duration_s"),
        )
        .orderBy("user_id", "session_id")
    )


# ---------------------------------------------- text_unigram_logprob
# CCNet-style language-model quality proxy: train a unigram LM on the
# corpus itself (token count / corpus size, add-one smoothed) and score
# each document by its mean negative log-probability — gibberish and
# boilerplate score high, typical prose low. The vocabulary relation is
# BROADCAST back onto the token stream (vocabulary ≪ corpus), so the
# corpus-sized side shuffles only for its own per-doc aggregate. Scores
# are rounded to 4 decimals in BOTH engines before the keep-flag
# comparison, so the gate can't flip on float noise.
@_q(
    "text_unigram_logprob",
    f"""
    WITH terms AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '{_WS}')) AS term
        FROM documents
    ),
    vocab AS (
        SELECT term, count(*) AS c FROM terms GROUP BY term
    ),
    totals AS (
        SELECT CAST(sum(c) AS DOUBLE) AS n_tokens,
               CAST(count(*) AS DOUBLE) AS v_size
        FROM vocab
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(-ln((vocab.c + 1.0) / (totals.n_tokens + totals.v_size))), 4)
               AS mean_nll,
           round(avg(-ln((vocab.c + 1.0) / (totals.n_tokens + totals.v_size))), 4)
               <= 7.5 AS keep
    FROM terms JOIN vocab USING (term) CROSS JOIN totals
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # No output column carries text, so the vocabulary keys on the
    # 8-byte xxhash64 fingerprint (r15, guide §2.3): the vocab exchange
    # and the broadcast LM relation shed their raw-string payloads.
    terms = d.select(
        "doc_id", F.explode(F.split("text", _WS)).alias("term")
    ).select("doc_id", F.xxhash64("term").alias("uh"))
    vocab = terms.groupBy("uh").agg(F.count("*").alias("c"))
    n_tokens, v_size = vocab.agg(
        F.sum("c").cast("double"), F.count("*").cast("double")
    ).first()
    nll = -F.log(
        (F.col("c") + F.lit(1.0)) / F.lit(float(n_tokens) + float(v_size))
    )
    scored = (
        terms.join(F.broadcast(vocab), "uh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(nll), 4).alias("mean_nll"),
        )
    )
    return scored.select(
        "doc_id", "n_tokens", "mean_nll",
        (F.col("mean_nll") <= 7.5).alias("keep"),
    )


# ------------------------------------------------------- events_funnel
# Ordered conversion funnel (view -> click -> purchase): per user, each
# stage's timestamp must STRICTLY follow the previous stage's — the
# product-analytics query every event warehouse runs. Spark shape: one
# hash partitioning by user_id reused across the three cascaded
# stage-aggregates (groupBy user -> join user -> groupBy user: Catalyst
# reuses the exchange), then a 3-row stage-count union. At 100 TB the
# per-user frames never re-shuffle and no window materializes the full
# event list per user.
@_q(
    "events_funnel",
    """
    WITH u AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t1
        FROM events GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN u USING (user_id)
        WHERE e.event_type = 'click' AND u.t1 IS NOT NULL AND e.ts > u.t1
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY e.user_id
    )
    SELECT '1_view' AS stage, count(t1) AS users FROM u
    UNION ALL SELECT '2_click', count(*) FROM c
    UNION ALL SELECT '3_purchase', count(*) FROM p
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("t1")
    )
    c = (
        ev.join(u.filter(F.col("t1").isNotNull()), "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        u.agg(F.lit("1_view").alias("stage"), F.count("t1").alias("users"))
        .unionAll(c.agg(F.lit("2_click"), F.count(F.lit(1))))
        .unionAll(p.agg(F.lit("3_purchase"), F.count(F.lit(1))))
    )


# ---------------------------------------------------- events_retention
# Cohort retention: users grouped by first-seen day, counted per
# day-offset of later activity — the engagement matrix behind every
# retention curve. One shuffle by user builds the cohort map; the join
# back reuses that partitioning; the distinct + final aggregate shuffle
# only (cohort_day, offset) pairs — days^2-bounded, tiny at any scale.
@_q(
    "events_retention",
    """
    WITH cohort AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS c0
        FROM events GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT e.user_id, c.c0,
               CAST(CAST(e.ts AS DATE) - c.c0 AS INTEGER) AS offset_days
        FROM events e JOIN cohort c USING (user_id)
    )
    SELECT c0 AS cohort_day, offset_days, count(*) AS users
    FROM act GROUP BY c0, offset_days
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("c0"))
    act = (
        ev.join(cohort, "user_id")
        .select(
            "user_id", "c0",
            F.datediff(F.to_date("ts"), F.col("c0")).alias("offset_days"),
        )
        .distinct()
    )
    return (
        act.groupBy(F.col("c0").alias("cohort_day"), F.col("offset_days"))
        .agg(F.count(F.lit(1)).alias("users"))
    )


# ------------------------------------------------------ events_anomaly
# Per-user z-score outlier detection over event values — the
# data-quality gate run before events feed a model: values beyond 3
# sigma of the user's own distribution are counted as anomalies. One
# shuffle builds the per-user (mean, std); the join back reuses the
# user partitioning; same two-pass shape at any scale (no window holds
# the full event list in memory). Stats are ROUNDED on output
# (agg_stats precedent); the 3-sigma comparison runs on raw doubles —
# engine ulp differences flip it only for values within ~1e-10 of the
# boundary, which the continuous synthetic values never sit on.
@_q(
    "events_anomaly",
    """
    WITH st AS (
        SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sd
        FROM events GROUP BY user_id
    )
    SELECT e.user_id,
           count(*) AS n_events,
           CAST(sum(CASE WHEN abs(e.value - st.mu) > 3 * st.sd
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(st.mu, 4) AS mean_value,
           round(st.sd, 4) AS sd_value
    FROM events e JOIN st USING (user_id)
    GROUP BY e.user_id, st.mu, st.sd
    """,
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    st = ev.groupBy("user_id").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
    )
    joined = ev.join(st, "user_id")
    return (
        joined.groupBy("user_id", "mu", "sd")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("mu"))
                    > 3 * F.col("sd"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
        .select(
            "user_id", "n_events", "n_outliers",
            F.round("mu", 4).alias("mean_value"),
            F.round("sd", 4).alias("sd_value"),
        )
    )


# ---------------------------------------------- text_bigram_logprob
# Bigram-LM quality proxy (the KenLM-shaped upgrade of
# text_unigram_logprob): train add-one-smoothed bigram statistics on the
# corpus itself — P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V) — and score each
# document by the mean negative log-probability of its bigrams.
# Boilerplate and token-salad that sneak past unigram stats (common
# words, impossible sequences) score high here.
#
# Scale shape: bigrams come from a TRANSFORM over the already-split
# token array (a narrow map — no self-join, no window shuffle to pair
# neighbors). The bigram-count relation is corpus-bigram-vocabulary
# sized: Catalyst broadcasts it at bench scale; at 100 TB it becomes the
# one equi-join shuffle (the unavoidable probe), while the unigram
# vocabulary stays broadcast. Scores round to 4 decimals in BOTH engines
# before the keep comparison, so the gate can't flip on float noise.
@_q(
    "text_bigram_logprob",
    f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(text, '{_WS}') AS a
        FROM documents
    ),
    bg AS (
        SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(a) - 1)) AS i)
    ),
    uni AS (
        SELECT term, count(*) AS c
        FROM (SELECT unnest(a) AS term FROM toks) GROUP BY term
    ),
    v AS (SELECT CAST(count(*) AS DOUBLE) AS vs FROM uni),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2)
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(avg(-ln((bc.c12 + 1.0) / (uni.c + v.vs))), 4) AS mean_nll,
           round(avg(-ln((bc.c12 + 1.0) / (uni.c + v.vs))), 4) <= 3.41
               AS keep
    FROM bg
    JOIN bc USING (w1, w2)
    JOIN uni ON bg.w1 = uni.term
    CROSS JOIN v
    GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", _WS).alias("a"))
    # adjacent pairs WITHOUT a shuffle: transform over the token array
    # (slice drops the final token; i is 0-based so a[i+1] is the
    # successor). The pair and its first word are fingerprinted to
    # 8-byte xxhash64 keys AT the explode (guide §2.3 "shuffle keys and
    # metadata instead of payloads"): no output column carries text, so
    # the LM statistics aggregate and probe entirely on the hashes —
    # the vocab exchanges and the broadcast count relations shed their
    # raw-string payloads (r15; equality-of-results oracle-checked at
    # every SF — a 64-bit fingerprint collision is the same accepted
    # trade the xxhash64-shingled dedup family already makes).
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(a, 1, greatest(size(a) - 1, 0)), "
                "(t, i) -> struct(xxhash64(t, a[i + 1]) AS bh, "
                "xxhash64(t) AS uh))"
            )
        ).alias("b"),
    ).select("doc_id", "b.bh", "b.uh")
    uni = (
        toks.select(F.explode("a").alias("term"))
        .groupBy(F.xxhash64("term").alias("uh"))
        .agg(F.count("*").alias("c"))
    )
    # LM planning scalar (vocab size) — memoized per input-file state
    # like the IVF centroid cache: the count() is a full tokenize +
    # groupBy job that otherwise re-runs on EVERY frame build (the bench
    # builds 4+ frames per id), while the scalar only changes when the
    # corpus file does.
    from ._tables import _df_cache_key

    vk = _df_cache_key(spark, sf_dir, "documents")
    v_size = _VSIZE_CACHE.get(vk) if vk is not None else None
    if v_size is None:
        v_size = float(uni.count())
        if vk is not None:
            _VSIZE_CACHE[vk] = v_size
    bc = bg.groupBy("bh").agg(F.count("*").alias("c12"))
    nll = -F.log(
        (F.col("c12") + F.lit(1.0)) / (F.col("c") + F.lit(v_size))
    )
    return (
        bg.join(bc, "bh")
        .join(F.broadcast(uni), "uh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(nll), 4).alias("mean_nll"),
        )
        .select(
            "doc_id", "n_bigrams", "mean_nll",
            (F.col("mean_nll") <= 3.41).alias("keep"),
        )
    )


# ------------------------------------------------ text_ccnet_bucket
# CCNet's head/middle/tail quality bucketing: score every document with
# the corpus-trained unigram LM (same statistic as
# text_unigram_logprob), then split the corpus at the score TERCILES —
# head = best-scoring third, tail = worst. Downstream mixtures sample
# head-heavy; this is the partitioning step that makes that possible.
#
# Engine-stability: scores are rounded to 4 decimals FIRST and the
# terciles are interpolated over the ROUNDED scores (percentile /
# quantile_cont, identical linear-interpolation semantics), so both
# engines cut at bit-identical thresholds. The thresholds are two
# driver-side scalars (LM planning state, like the vocabulary size) —
# bucket assignment stays one codegen'd projection, zero extra shuffle.
@_q(
    "text_ccnet_bucket",
    f"""
    WITH terms AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '{_WS}')) AS term
        FROM documents
    ),
    vocab AS (SELECT term, count(*) AS c FROM terms GROUP BY term),
    totals AS (
        SELECT CAST(sum(c) AS DOUBLE) AS n_tokens,
               CAST(count(*) AS DOUBLE) AS v_size
        FROM vocab
    ),
    scored AS (
        SELECT doc_id,
               round(avg(-ln((vocab.c + 1.0) /
                             (totals.n_tokens + totals.v_size))), 4)
                   AS mean_nll
        FROM terms JOIN vocab USING (term) CROSS JOIN totals
        GROUP BY doc_id
    ),
    cuts AS (
        SELECT quantile_cont(mean_nll, 1.0 / 3.0) AS t1,
               quantile_cont(mean_nll, 2.0 / 3.0) AS t2
        FROM scored
    )
    SELECT doc_id, mean_nll,
           CASE WHEN mean_nll <= cuts.t1 THEN 'head'
                WHEN mean_nll <= cuts.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored CROSS JOIN cuts
    """,
)
def text_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Vocabulary keyed on the xxhash64 fingerprint, as in
    # text_unigram_logprob (r15, guide §2.3): no output carries text.
    terms = d.select(
        "doc_id", F.explode(F.split("text", _WS)).alias("term")
    ).select("doc_id", F.xxhash64("term").alias("uh"))
    vocab = terms.groupBy("uh").agg(F.count("*").alias("c"))
    n_tokens, v_size = vocab.agg(
        F.sum("c").cast("double"), F.count("*").cast("double")
    ).first()
    nll = -F.log(
        (F.col("c") + F.lit(1.0)) / F.lit(float(n_tokens) + float(v_size))
    )
    scored = (
        terms.join(F.broadcast(vocab), "uh")
        .groupBy("doc_id")
        .agg(F.round(F.avg(nll), 4).alias("mean_nll"))
    )
    t1, t2 = scored.agg(
        F.expr("percentile(mean_nll, 1.0D / 3.0D)"),
        F.expr("percentile(mean_nll, 2.0D / 3.0D)"),
    ).first()
    return scored.select(
        "doc_id", "mean_nll",
        F.when(F.col("mean_nll") <= float(t1), "head")
        .when(F.col("mean_nll") <= float(t2), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# ---------------------------------------------- events_transitions
# Event-type transition matrix (the first-order Markov statistics under
# session analysis and bot detection): for each user's time-ordered
# stream, count every consecutive (from_type -> to_type) pair and report
# each transition's share of all transitions. One window pass partitioned
# by user (lead over (ts, event_id) — the same tie-broken total order
# the sessionizer uses), then a transitions²-bounded aggregate; the
# grand total folds in as a driver-free window-less scalar via a second
# tiny aggregate joined by crossing one row — at 100 TB the only
# corpus-sized exchange is the per-user window shuffle.
@_q(
    "events_transitions",
    """
    WITH ordered AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type,
               count(*) AS n
        FROM ordered WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    ),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM pairs)
    SELECT from_type, to_type, n,
           round(n / tot.total, 6) AS share
    FROM pairs CROSS JOIN tot
    ORDER BY from_type, to_type
    """,
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id", "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    total = pairs.agg(F.sum("n").cast("double").alias("total"))
    return (
        pairs.crossJoin(F.broadcast(total))
        .select(
            "from_type", "to_type", "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
        )
        .orderBy("from_type", "to_type")
    )


# ------------------------------------------------ events_dau_stickiness
# DAU / WAU / stickiness (DAU÷WAU of the containing week) — the
# engagement dashboard every event warehouse serves. One distinct-users
# aggregate per grain; the weekly side derives from the DAILY distincts'
# source rows, so both grains reuse ONE (day, user) dedup shuffle; the
# day-to-week join is O(days) × O(weeks) — broadcast trivially. Weeks
# truncate Monday-based (date_trunc('week') in both engines).
@_q(
    "events_dau_stickiness",
    """
    WITH du AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
                        user_id
        FROM events
    ),
    daily AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
    weekly AS (
        SELECT CAST(date_trunc('week', day) AS DATE) AS week,
               count(DISTINCT user_id) AS wau
        FROM du GROUP BY 1
    )
    SELECT day, dau, wau,
           round(dau * 1.0 / wau, 4) AS stickiness
    FROM daily
    JOIN weekly ON CAST(date_trunc('week', day) AS DATE) = week
    ORDER BY day
    """,
)
def events_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct()
    daily = du.groupBy("day").agg(F.count("*").alias("dau"))
    weekly = du.groupBy(
        F.date_trunc("week", "day").cast("date").alias("week")
    ).agg(F.countDistinct("user_id").alias("wau"))
    return (
        daily.withColumn(
            "week", F.date_trunc("week", "day").cast("date")
        )
        .join(F.broadcast(weekly), "week")
        .select(
            "day", "dau", "wau",
            F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------- corpus_shard_assign
# Deterministic shard assignment + balance audit: every document maps to
# one of N training shards by hash (membership DERIVED, never stored —
# the same property corpus_mix relies on), and the output is the
# per-shard balance profile a pipeline checks before writing shards
# (dominant skew here means one writer/trainer gets a long tail). Zero
# joins, zero pre-aggregation shuffles: the shard id is a codegen'd
# expression on the scan, the only exchange is the O(N_SHARDS) final
# aggregate. Uses the same md5-bucket arithmetic as the sampling family,
# so the DuckDB oracle is bit-identical.
_N_SHARDS = 32


@_q(
    "corpus_shard_assign",
    f"""
    SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
               % {_N_SHARDS} AS shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           count(DISTINCT lang) AS n_langs
    FROM documents
    GROUP BY 1
    ORDER BY shard
    """,
)
def corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    shard = F.expr(
        f"conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
        f" % {_N_SHARDS}"
    ).cast("bigint")
    return (
        d.groupBy(shard.alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------- events_attribution
# Last-touch attribution: each purchase credits the most recent prior
# view/click by the same user within a 7-day lookback; purchases with no
# touch in the window are 'direct'. The conversion-credit grain every
# growth dashboard needs. Scale shape: ONE per-user window pass over the
# (view, click, purchase) slice — the carry-forward is
# last(touch, ignorenulls) over (user, ts) order, the same
# no-self-join pattern as the as-of join; the final aggregate shuffles
# O(channels) rows. Purchase values accumulate in DECIMAL so the
# per-channel totals hash identically across engines.
_ATTR_WINDOW_S = 7 * 24 * 3600


@_q(
    "events_attribution",
    f"""
    WITH touches AS (
        SELECT user_id, ts, event_id, event_type, value,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS)
                   OVER w AS touch_type,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN ts END IGNORE NULLS)
                   OVER w AS touch_ts
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT coalesce(CASE WHEN epoch(ts) - epoch(touch_ts)
                              <= {_ATTR_WINDOW_S}
                         THEN touch_type END, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS attributed_value
    FROM touches
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY channel
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")
    touches = e.select(
        "event_type",
        "ts",
        "value",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    in_window = (
        F.unix_timestamp("ts") - F.unix_timestamp("touch_ts")
    ) <= _ATTR_WINDOW_S
    return (
        touches.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(in_window, F.col("touch_type")), F.lit("direct")
            ).alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("attributed_value"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------- text_segment_dedup
# Exact segment-level dedup (the RefinedWeb / CCNet "line dedup" pass,
# with fixed W-token segments standing in for lines since the synthetic
# corpus has no newlines): every document is cut into consecutive
# W-token segments; a segment survives only at its FIRST corpus
# occurrence (lowest (doc_id, seg_idx)); each document is reassembled
# from its surviving segments. This removes boilerplate repeated across
# documents — the single highest-yield cleaning pass on web corpora.
#
# Scale shape — deliberately NOT the window form: boilerplate segments
# are the whole point of the pass, so the `seg` key is maximally skewed
# (a hot segment can appear in millions of docs; a window partitioned by
# `seg` would sort all of them in one task). Instead: (1) groupBy(seg) ->
# min(position) — map-side partial aggregation collapses the hot keys
# BEFORE the exchange, so the shuffle carries one row per DISTINCT
# segment; (2) join the min back on `seg` — each probe row matches
# exactly one build row, and AQE's skew-join splitting handles the hot
# buckets; (3) reassembly groups by doc_id, which is uniformly
# distributed. Segment width is a parameter; W=3 on the synthetic
# ~30-word vocabulary yields a realistic ~19% drop rate (measured
# sf0.01: 9216 segments, 7460 kept).
_SEG_W = 3
# Position encoded as one BIGINT so min() is engine-portable (DuckDB's
# min over ROW and Spark's min over struct order identically, but the
# scalar form is unambiguous). 2^20 > any per-doc segment count here.
_SEG_POS = 1 << 20


@_q(
    "text_segment_dedup",
    f"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(text, '{_WS}') AS ws
      FROM documents),
    s0 AS (
      SELECT doc_id, ws,
             unnest(range(0, CAST(ceil(len(ws) / {_SEG_W}.0) AS BIGINT)))
                 AS seg_idx
      FROM w),
    segs AS (
      SELECT doc_id, seg_idx,
             array_to_string(
                 ws[seg_idx * {_SEG_W} + 1 : seg_idx * {_SEG_W} + {_SEG_W}],
                 ' ') AS seg
      FROM s0),
    firsts AS (
      SELECT seg, min(doc_id * {_SEG_POS} + seg_idx) AS first_pos
      FROM segs GROUP BY seg),
    k AS (
      SELECT s.doc_id, s.seg_idx, s.seg,
             s.doc_id * {_SEG_POS} + s.seg_idx = f.first_pos AS keep
      FROM segs s JOIN firsts f USING (seg))
    SELECT doc_id,
           count(*) AS n_segs,
           count(*) FILTER (WHERE keep) AS n_kept,
           coalesce(array_to_string(
               list(seg ORDER BY seg_idx) FILTER (WHERE keep), ' '), '')
               AS dedup_text
    FROM k GROUP BY doc_id
    """,
)
def text_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # NOTE: a spread_width round-robin of the scan was A/B'd and is a
    # net LOSS (0.61 -> 1.16 s): the exchange ships full document text
    # to both downstream aggregates — the heavy-payload case where
    # "shuffle fewer bytes" beats "more parallelism".
    w = docs.select("doc_id", F.split("text", _WS).alias("ws"))
    # posexplode(sequence(...)) keeps the segment expansion inside
    # whole-stage codegen (no higher-order transform() in the hot scan);
    # seg_idx is the sequence VALUE (pos == value here, but the value is
    # the defined index).
    n_seg = f"CAST(ceil(size(ws) / {_SEG_W}.0) AS INT) - 1"
    segs = (
        w.select(
            "doc_id",
            "ws",
            F.posexplode(F.expr(f"sequence(0, {n_seg})")).alias("_p", "seg_idx"),
        )
        .select(
            "doc_id",
            F.col("seg_idx").cast("bigint").alias("seg_idx"),
            F.array_join(
                F.expr(f"slice(ws, seg_idx * {_SEG_W} + 1, {_SEG_W})"), " "
            ).alias("seg"),
        )
    )
    pos = (F.col("doc_id") * _SEG_POS + F.col("seg_idx")).cast("bigint")
    firsts = (
        segs.select("seg", pos.alias("p"))
        .groupBy("seg")
        .agg(F.min("p").alias("first_pos"))
    )
    # `first_pos` = doc_id * 2^20 + seg_idx is injective, so the winning
    # occurrence of every distinct segment is DECODABLE from the
    # segment-grain aggregate alone — the occurrence-level join back on
    # the segment text (the maximally skewed key, shuffling every
    # occurrence's seg string) is unnecessary. keep <=> pos == first_pos
    # <=> (doc_id, seg_idx) == divmod(first_pos, 2^20), so reassembly
    # reads only the one winning row per distinct segment; per-doc
    # totals come from a doc-grain count (map-side partial, doc-sized
    # exchange). Segment text now crosses an exchange at most once per
    # DISTINCT segment, never per occurrence, and the hot-key join is
    # gone outright.
    kept = firsts.select(
        F.shiftright("first_pos", 20).alias("doc_id"),
        (F.col("first_pos") % _SEG_POS).alias("seg_idx"),
        "seg",
    )
    perdoc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    totals = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segs"))
    return totals.join(perdoc, "doc_id", "left").select(
        "doc_id",
        "n_segs",
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
    )


# --------------------------------------------------- events_path_topk
# Top-k navigation paths: the most frequent 3-step event-type sequences
# across sessions (product analytics' "common journeys" view, and the
# n-gram twin of events_transitions' first-order matrix). Sessions are
# cut with the same 30-minute-gap rule as events_sessionize; paths are
# consecutive in-session trigrams.
#
# Scale shape: ONE exchange by user_id feeds both window passes — the
# session-numbering window partitions by user_id and the trigram lead()
# window by (user_id, session_id), which hashpartitioning(user_id)
# already clusters, so EnsureRequirements inserts only a re-sort, not a
# second shuffle. The trigram count collapses map-side (hot paths are
# the point — partial_count folds every task's copies before the
# exchange over at most |event_type|^3 distinct keys), and the global
# top-k window runs over that bounded key set, never the event stream.
_PATH_K = 20


@_q(
    "events_path_topk",
    f"""
    WITH ordered AS (
        SELECT user_id, event_id, ts, event_type,
               epoch_us(ts) - epoch_us(
                   lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   )
               ) AS gap_us
        FROM events
    ),
    numbered AS (
        SELECT user_id, event_id, ts, event_type,
               sum(CASE WHEN gap_us IS NULL
                        OR gap_us > {_SESSION_GAP_S} * 1000000
                        THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
        FROM ordered
    ),
    tri AS (
        SELECT concat_ws(' > ',
                   event_type,
                   lead(event_type, 1) OVER w,
                   lead(event_type, 2) OVER w) AS path,
               lead(event_type, 2) OVER w AS e3
        FROM numbered
        WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
    ),
    counted AS (
        SELECT path, count(*) AS n_sessions_path
        FROM tri WHERE e3 IS NOT NULL GROUP BY path
    )
    SELECT path, n_sessions_path, rnk FROM (
        SELECT path, n_sessions_path,
               row_number() OVER (ORDER BY n_sessions_path DESC, path) AS rnk
        FROM counted)
    WHERE rnk <= {_PATH_K} ORDER BY rnk
    """,
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_order))
    numbered = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(
            F.when(gap.isNull() | (gap > _SESSION_GAP_S * 1_000_000), 1)
            .otherwise(0)
        ).over(w_run).alias("session_id"),
    )
    w_sess = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    tri = numbered.select(
        F.concat_ws(
            " > ",
            "event_type",
            F.lead("event_type", 1).over(w_sess),
            F.lead("event_type", 2).over(w_sess),
        ).alias("path"),
        F.lead("event_type", 2).over(w_sess).alias("e3"),
    )
    counted = (
        tri.filter(F.col("e3").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions_path"))
    )
    w_rank = Window.orderBy(F.desc("n_sessions_path"), "path")
    return (
        counted.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= _PATH_K)
        .orderBy("rnk")
    )


# ------------------------------------------- corpus_epoch_shuffle (r9e)
# Deterministic epoch shuffle: the order a training job reads the corpus
# in epoch E is a pure function of (E, doc_id) — shard = hash bucket,
# position = rank of the hash within the shard. Nothing is stored, every
# restart/re-run derives the identical order, and changing E reshuffles.
#
# Scale shape: NO global sort (a total order over 100 TB is the classic
# scale killer). The only exchange hash-partitions by shard, and each
# shard sorts independently — with production shard counts (thousands;
# 8 here so the sf0.01 oracle stays readable) every sort fits one task.
# The md5 rank is an engine-portable uniform permutation (same idiom as
# sample_reservoir).
_EPOCH = 2
_SHUF_SHARDS = 8
_SHUF_KEY_SPARK = f"md5(concat('e{_EPOCH}:', CAST(doc_id AS STRING)))"
_SHUF_KEY_DUCK = f"md5('e{_EPOCH}:' || doc_id::VARCHAR)"


@_q(
    "corpus_epoch_shuffle",
    f"""
    SELECT doc_id,
           ('0x' || substr({_SHUF_KEY_DUCK}, 1, 8))::BIGINT % {_SHUF_SHARDS}
               AS shard,
           CAST(row_number() OVER (
               PARTITION BY ('0x' || substr({_SHUF_KEY_DUCK}, 1, 8))::BIGINT
                            % {_SHUF_SHARDS}
               ORDER BY {_SHUF_KEY_DUCK}, doc_id
           ) AS BIGINT) AS pos
    FROM documents
    ORDER BY shard, pos
    """,
)
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.expr(_SHUF_KEY_SPARK).alias("k"),
        F.expr(
            f"CAST(conv(substring({_SHUF_KEY_SPARK}, 1, 8), 16, 10) "
            f"AS BIGINT) % {_SHUF_SHARDS}"
        ).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return (
        keyed.withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


# ------------------------------------------------- corpus_profile (r9e)
# Per-language corpus profile at histogram grain: 50-char length buckets
# with doc/char/source tallies and each bucket's parts-per-million share
# of its language — the dataset card / drift dashboard every corpus
# release ships with.
#
# Scale shape: one two-phase hash aggregate on (lang, bucket) — map-side
# combine collapses the corpus to O(langs x 12) rows BEFORE the only
# corpus-sized exchange; the share window runs over that tiny aggregate,
# never the corpus. Exact integer buckets (DIV), no percentile sort.
# ppm uses floor() over one double division — floor boundaries only
# arise when the share is mathematically integral, where IEEE division
# is exact in both engines (round() half-mode differences never enter).
@_q(
    "corpus_profile",
    """
    WITH g AS (
        SELECT lang,
               CAST(least(n_chars // 50, 11) AS INT) AS bucket,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               count(DISTINCT source) AS n_sources
        FROM documents
        GROUP BY 1, 2
    )
    SELECT lang, bucket, n_docs, total_chars, n_sources,
           CAST(floor(1000000.0 * n_docs
                      / sum(n_docs) OVER (PARTITION BY lang)) AS BIGINT)
               AS ppm_of_lang
    FROM g
    ORDER BY lang, bucket
    """,
)
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    g = (
        d.select(
            "lang",
            "source",
            "n_chars",
            F.expr("CAST(least(n_chars DIV 50, 11) AS INT)").alias("bucket"),
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )
    w = Window.partitionBy("lang")
    return (
        g.withColumn(
            "ppm_of_lang",
            F.floor(
                F.lit(1000000.0) * F.col("n_docs") / F.sum("n_docs").over(w)
            ).cast("long"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------- corpus_curation_verdict
# The end-of-pipeline filter ENSEMBLE: one keep/drop verdict per document
# combining the independent quality signals every curation recipe stacks
# (Gopher hand rules + a repetition proxy + the learned classifier),
# with the FIRST failing rule recorded as the reject reason — the audit
# column a production pipeline needs to answer "why did we drop 12% of
# source X".
#
# The scale point is HOW the signals combine: not by joining the
# per-signal tables (three more doc_id shuffles of per-doc rows), but by
# composing every signal as an expression over ONE scan — the whole
# ensemble is a single narrow codegen'd pass, zero exchanges, zero
# Python (pinned). Signals reused verbatim from their standalone ops so
# the thresholds stay consistent:
#   gopher:     n_words in [50, 100k], mean word len in [3, 10],
#               >= 2 English stopword hits   (text_gopher_quality)
#   repetition: distinct-token fraction >= 0.25 — the narrow
#               array_distinct form (no per-token explode)
#   classifier: hashed-bigram linear score >= 0 (text_quality_classifier
#               weights, int64-exact fold)
from .text import _QC_B, _QC_W, _sql_in, _PROFILES


@_q(
    "corpus_curation_verdict",
    f"""
    WITH base AS (
      SELECT doc_id, lang,
             regexp_split_to_array(text, '{_WS}') AS ws,
             regexp_split_to_array(lower(text), '{_WS}') AS lws,
             length(regexp_replace(text, '{_WS}', '', 'g')) AS n_chars_nws
      FROM documents),
    sig AS (
      SELECT doc_id, lang,
             len(ws) AS n_words,
             round(n_chars_nws * 1.0 / len(ws), 4) AS mean_word_len,
             len([t FOR t IN ws IF t IN {_sql_in(_PROFILES["en"])}])
                 AS stop_hits,
             round(len(list_distinct(ws)) * 1.0 / len(ws), 4)
                 AS distinct_frac,
             CASE WHEN len(lws) >= 2 THEN
               round(list_sum([
                   {_QC_W}[CAST(('0x' || substr(md5(lws[i] || ' ' || lws[i+1]),
                                 1, 8))::BIGINT % {_QC_B} AS BIGINT) + 1]
                   FOR i IN range(1, len(lws))]) * 1.0 / (len(lws) - 1), 6)
             ELSE 0.0 END AS clf_score
      FROM base)
    SELECT doc_id, lang, n_words, mean_word_len, distinct_frac, clf_score,
           CASE WHEN NOT (n_words BETWEEN 50 AND 100000
                          AND mean_word_len BETWEEN 3 AND 10
                          AND stop_hits >= 2) THEN 'gopher'
                WHEN distinct_frac < 0.25 THEN 'repetition'
                WHEN clf_score < 0 THEN 'classifier'
                ELSE 'ok' END AS verdict,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3 AND 10
            AND stop_hits >= 2
            AND distinct_frac >= 0.25
            AND clf_score >= 0) AS keep
    FROM sig
    """,
)
def corpus_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w_lit = "array(" + ", ".join(f"{w}L" for w in _QC_W) + ")"
    stop_in = _sql_in(_PROFILES["en"])
    clf_fold = (
        f"aggregate(zip_with(slice(lws, 1, size(lws) - 1),"
        f" slice(lws, 2, size(lws) - 1), (w1, w2) -> concat(w1, ' ', w2)),"
        f" 0L, (acc, pr) -> acc + element_at({w_lit},"
        f" CAST(CAST(conv(substring(md5(pr), 1, 8), 16, 10) AS BIGINT)"
        f" % {_QC_B} AS INT) + 1))"
    )
    sig = d.select(
        "doc_id",
        "lang",
        F.split("text", _WS).alias("ws"),
        F.split(F.lower("text"), _WS).alias("lws"),
        F.length(F.regexp_replace("text", _WS, "")).alias("n_chars_nws"),
    ).select(
        "doc_id",
        "lang",
        F.size("ws").cast("bigint").alias("n_words"),
        F.round(F.col("n_chars_nws") * 1.0 / F.size("ws"), 4).alias(
            "mean_word_len"
        ),
        F.expr(f"size(filter(ws, t -> t IN {stop_in}))").alias("stop_hits"),
        F.round(
            F.expr("size(array_distinct(ws))") * 1.0 / F.size("ws"), 4
        ).alias("distinct_frac"),
        F.when(
            F.size("lws") >= 2,
            F.round(
                F.expr(clf_fold) * 1.0 / (F.size("lws") - 1), 6
            ),
        )
        .otherwise(0.0)
        .alias("clf_score"),
    )
    gopher_ok = (
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("stop_hits") >= 2)
    )
    return sig.select(
        "doc_id",
        "lang",
        "n_words",
        "mean_word_len",
        "distinct_frac",
        "clf_score",
        F.when(~gopher_ok, "gopher")
        .when(F.col("distinct_frac") < 0.25, "repetition")
        .when(F.col("clf_score") < 0, "classifier")
        .otherwise("ok")
        .alias("verdict"),
        (
            gopher_ok
            & (F.col("distinct_frac") >= 0.25)
            & (F.col("clf_score") >= 0)
        ).alias("keep"),
    )


# ------------------------------------------------------ events_bot_detect
# Bot / automation detection over the event stream — the spam filter a
# user-generated-content corpus runs before its text ever reaches
# training: humans emit events with irregular gaps (coefficient of
# variation near or above 1 for bursty behavior), schedulers and scripts
# emit metronome-regular ones (CV near 0). Per user: event count, mean
# inter-event gap, gap CV, events/hour, and the is_bot flag
# (high-volume AND low-jitter).
#
# Scale shape: ONE exchange — the lag window hash-partitions by
# user_id, and every aggregate after it groups by the SAME key, so the
# per-user stats reuse the window's partitioning (the events_funnel
# cascade, pinned). Float parity: gaps are integer seconds; variance is
# assembled from the EXACT integers (n*Σg² - (Σg)²) / (n*(n-1)) so the
# only float ops are one division, one sqrt, one multiply, one divide —
# written in the same order in both engines; zero-span users (all
# events in one second) get NULL jitter, not a division blow-up.
_BOT_MIN_GAPS = 5     # need history before judging cadence
_BOT_MIN_EVENTS = 50  # volume floor for the flag
_BOT_MAX_CV = 0.3     # gap CV at/below this is machine-like


@_q(
    "events_bot_detect",
    f"""
    WITH g AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
             - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events),
    s AS (
      SELECT user_id,
             count(*) + 1 AS n_events,
             CAST(count(gap) AS BIGINT) AS n_gaps,
             CAST(sum(gap) AS BIGINT) AS sum_gap,
             CAST(sum(gap * gap) AS BIGINT) AS sum_gap2
      FROM g WHERE gap IS NOT NULL
      GROUP BY user_id
      HAVING count(gap) >= {_BOT_MIN_GAPS})
    SELECT user_id, n_events,
           round(sum_gap * 1.0 / n_gaps, 4) AS mean_gap_s,
           CASE WHEN sum_gap > 0 THEN
             round(sqrt((n_gaps * sum_gap2 - sum_gap * sum_gap) * 1.0
                        / (n_gaps * (n_gaps - 1)))
                   * n_gaps / sum_gap, 4)
           END AS gap_cv,
           CASE WHEN sum_gap > 0 THEN
             round(3600.0 * n_gaps / sum_gap, 4)
           END AS events_per_hour,
           (n_events >= {_BOT_MIN_EVENTS} AND sum_gap > 0 AND
            round(sqrt((n_gaps * sum_gap2 - sum_gap * sum_gap) * 1.0
                       / (n_gaps * (n_gaps - 1)))
                  * n_gaps / sum_gap, 4) <= {_BOT_MAX_CV}) AS is_bot
    FROM s
    """,
)
def events_bot_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        (
            F.unix_timestamp("ts")
            - F.lag(F.unix_timestamp("ts")).over(w)
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    s = (
        g.groupBy("user_id")
        .agg(
            (F.count("*") + 1).alias("n_events"),
            F.count("gap").cast("bigint").alias("n_gaps"),
            F.sum("gap").cast("bigint").alias("sum_gap"),
            F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("sum_gap2"),
        )
        .filter(F.col("n_gaps") >= _BOT_MIN_GAPS)
    )
    cv = F.round(
        F.sqrt(
            (F.col("n_gaps") * F.col("sum_gap2") - F.col("sum_gap") * F.col("sum_gap"))
            * 1.0
            / (F.col("n_gaps") * (F.col("n_gaps") - 1))
        )
        * F.col("n_gaps")
        / F.col("sum_gap"),
        4,
    )
    pos_span = F.col("sum_gap") > 0
    return s.select(
        "user_id",
        "n_events",
        F.round(F.col("sum_gap") * 1.0 / F.col("n_gaps"), 4).alias("mean_gap_s"),
        F.when(pos_span, cv).alias("gap_cv"),
        F.when(pos_span, F.round(3600.0 * F.col("n_gaps") / F.col("sum_gap"), 4)).alias(
            "events_per_hour"
        ),
        ((F.col("n_events") >= _BOT_MIN_EVENTS) & pos_span & (cv <= _BOT_MAX_CV)).alias(
            "is_bot"
        ),
    )


# ----------------------------------------------------- events_type_lift
# Pairwise event-type association (lift / support) across users — the
# co-occurrence audit a behavioral corpus runs to find coupled actions
# ("users who purchase also search"): for every unordered type pair,
# how much MORE often do the two types share a user than independence
# predicts. lift > 1 = coupled, < 1 = substitutes.
#
# Scale shape: the only corpus-sized exchange is ONE hash partition by
# user_id (collect_set dedups types inside the aggregate — no separate
# DISTINCT pass), and the same aggregated subtree feeds pair expansion,
# marginals, and the user total, so AQE reuses that exchange 3×. Pair
# expansion happens INSIDE the per-user array (types are bounded — the
# schema has 5 — so the i<j transform is O(k²) per row with no join);
# everything after it is type-cardinality-sized and broadcast. The
# user-pair self-join the oracle uses would shuffle the corpus twice —
# the array form never does.
#
# Float parity: u_both/n_users/u are exact BIGINTs; lift is assembled
# integer-first (u_both * n_users), divided once, rounded to 6 in both
# engines.
@_q(
    "events_type_lift",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_users
          FROM (SELECT DISTINCT user_id FROM events)),
    m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS u
          FROM ut GROUP BY event_type),
    p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                 CAST(count(*) AS BIGINT) AS u_both
          FROM ut a JOIN ut b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2)
    SELECT p.type_a, p.type_b, p.u_both,
           round(p.u_both * n.n_users * 1.0 / (ma.u * mb.u), 6) AS lift,
           round(p.u_both * 1.0 / n.n_users, 6) AS support
    FROM p
    CROSS JOIN n
    JOIN m ma ON ma.event_type = p.type_a
    JOIN m mb ON mb.event_type = p.type_b
    """,
)
def events_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    sets = e.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types")
    )
    # All i<j pairs from the sorted per-user array — no self-join.
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(types, (x, i) -> transform("
                "slice(types, i + 2, size(types)), "
                "y -> struct(x AS type_a, y AS type_b))))"
            )
        ).alias("p")
    ).select("p.type_a", "p.type_b")
    pc = pairs.groupBy("type_a", "type_b").agg(
        F.count("*").cast("bigint").alias("u_both")
    )
    marg = (
        sets.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("u"))
    )
    nu = sets.agg(F.count("*").cast("bigint").alias("n_users"))
    ma = marg.select(
        F.col("event_type").alias("type_a"), F.col("u").alias("u_a")
    )
    mb = marg.select(
        F.col("event_type").alias("type_b"), F.col("u").alias("u_b")
    )
    return (
        pc.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(nu))
        .select(
            "type_a",
            "type_b",
            "u_both",
            F.round(
                F.col("u_both") * F.col("n_users") * 1.0
                / (F.col("u_a") * F.col("u_b")),
                6,
            ).alias("lift"),
            F.round(F.col("u_both") * 1.0 / F.col("n_users"), 6).alias(
                "support"
            ),
        )
    )


# -------------------------------------------------- corpus_token_budget
# Quality-greedy token-budget selection — the "take the best N tokens
# per language" step every pretraining mixture ends with: rank each
# language's documents by a quality score (alphabetic-character ratio —
# cheap, deterministic, computable in both engines), admit documents in
# rank order until the language's token budget is exhausted. A document
# is admitted iff the budget was not yet spent when its turn came
# (cum - own < budget), so the last admitted doc may overshoot — the
# standard greedy contract.
#
# Scale shape: ONE exchange (hash by lang) feeding a single sort +
# window cumsum; no joins, no Python. Per-lang ordering serializes a
# language into one reducer — the seq_pack caveat applies: at 100 TB
# shard the key to (lang, quality-bucket) with per-bucket budgets and
# the same plan holds; the greedy semantics then apply per bucket.
#
# Float parity: the score is int-length / int-length in one division,
# rounded to 6 in both engines BEFORE it becomes the sort key, so rank
# order (score desc, doc_id) and the exact-integer cumsum agree.
_BUDGET_TOKENS = 4000  # per-language token budget


@_q(
    "corpus_token_budget",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(text, '{_WS}')) AS BIGINT)
               AS n_tokens,
             round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   * 1.0 / length(text), 6) AS alpha_q
      FROM documents WHERE length(text) > 0)
    SELECT doc_id, lang, n_tokens, alpha_q,
           CAST(cum AS BIGINT) AS cum_tokens
    FROM (SELECT *, sum(n_tokens) OVER (
                      PARTITION BY lang ORDER BY alpha_q DESC, doc_id
                    ) AS cum
          FROM scored)
    WHERE cum - n_tokens < {_BUDGET_TOKENS}
    """,
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    scored = d.filter(F.length("text") > 0).select(
        "doc_id",
        "lang",
        F.size(F.split("text", _WS)).cast("bigint").alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
            * 1.0
            / F.length("text"),
            6,
        ).alias("alpha_q"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("alpha_q"), "doc_id")
    return (
        scored.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("bigint")
        )
        .filter(F.col("cum_tokens") - F.col("n_tokens") < _BUDGET_TOKENS)
        .select("doc_id", "lang", "n_tokens", "alpha_q", "cum_tokens")
    )


# ------------------------------------------------------- doc_merge_short
# Short-document merging — the materialization half of sequence packing
# (doc_chunk splits long docs; this fuses SHORT ones so the tokenizer
# sees full windows instead of padding): per language, stream short docs
# (< 64 tokens) in doc_id order, cut greedy 256-token packs (the
# seq_pack cumsum contract), and emit one merged record per pack —
# member count, token total, and the md5 digest of the newline-joined
# payload in doc_id order (the digest stands in for the merged text so
# the result stays hashable at any scale).
#
# Scale shape: ONE exchange — the lang window hash-partitions, and the
# (lang, pack_id) aggregate is CLUSTERED BY a superset of that key, so
# Spark reuses the partitioning (no second shuffle; pinned). The
# collect_list is per-pack (≤ 256 tokens of text) — bounded by the pack
# budget, never by the corpus. Per-lang ordering has the seq_pack skew
# caveat: at 100 TB key the stream by (lang, shard) and the same plan
# holds. Determinism: members sort by doc_id INSIDE the aggregate
# (array_sort on (doc_id, text) structs), so shuffle arrival order
# cannot change the digest.
_MERGE_SHORT_TOKENS = 64   # docs below this are merge candidates
_MERGE_PACK_TOKENS = 256   # greedy pack budget


@_q(
    "doc_merge_short",
    f"""
    WITH s AS (
      SELECT lang, doc_id, text,
             CAST(len(regexp_split_to_array(text, '{_WS}')) AS BIGINT)
               AS n_tokens
      FROM documents),
    f AS (SELECT * FROM s WHERE n_tokens < {_MERGE_SHORT_TOKENS}),
    p AS (
      SELECT *, CAST(floor((sum(n_tokens) OVER (
                              PARTITION BY lang ORDER BY doc_id
                            ) - n_tokens) / {_MERGE_PACK_TOKENS}.0)
                     AS BIGINT) AS pack_id
      FROM f)
    SELECT lang, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           md5(string_agg(text, chr(10) ORDER BY doc_id)) AS digest
    FROM p GROUP BY lang, pack_id
    """,
)
def doc_merge_short(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    short = d.select(
        "lang",
        "doc_id",
        "text",
        F.size(F.split("text", _WS)).cast("bigint").alias("n_tokens"),
    ).filter(F.col("n_tokens") < _MERGE_SHORT_TOKENS)
    w = Window.partitionBy("lang").orderBy("doc_id")
    packed = short.withColumn(
        "pack_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            / F.lit(float(_MERGE_PACK_TOKENS))
        ).cast("bigint"),
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            )
        ).alias("digest"),
    )


# ----------------------------------------------- corpus_lang_confusion
# Language-ID quality audit: the (labeled lang x predicted lang)
# confusion matrix plus each cell's share of its label row — the "is the
# classifier rotting?" dashboard every multilingual corpus refresh
# checks before trusting per-language budgets (a drifting lang-ID
# silently corrupts sample_temperature / corpus_token_budget upstream).
# Prediction = the registered text_lang_id heuristic, recomputed inline
# so label and prediction ride ONE corpus pass. Scale shape: the narrow
# scan feeds a two-phase hash agg whose map-side partials collapse every
# task to <= langs x 5 rows before the only corpus-fed exchange; the
# share window runs over the aggregate (matrix-sized, not corpus-sized).
# Share = exact integer n / integer label total, rounded to 6dp in both
# engines.
@_q(
    "corpus_lang_confusion",
    """
    WITH scored AS (
      SELECT lang,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             t -> t IN ('the','a','of','and','to','is','in'))) AS h_en,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             t -> t IN ('el','la','de','que','y','los','es'))) AS h_es,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             t -> t IN ('der','die','und','das','ist','von','ein'))) AS h_de,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             t -> t IN ('le','la','les','de','et','est','une'))) AS h_fr
      FROM documents),
    pred AS (
      SELECT lang,
             CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
                  WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
                  WHEN h_es >= h_de AND h_es >= h_fr THEN 'es'
                  WHEN h_de >= h_fr THEN 'de'
                  ELSE 'fr' END AS lang_pred
      FROM scored),
    cells AS (
      SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2)
    SELECT lang, lang_pred, CAST(n AS BIGINT) AS n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY lang), 6) AS share
    FROM cells
    """,
)
def corpus_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import _hits

    d = load(spark, sf_dir, "documents")
    h = {lang: _hits(lang) for lang in ("en", "es", "de", "fr")}
    best = F.greatest(*h.values())
    pred = d.select(
        "lang",
        F.when(best == 0, "und")
        .when(
            (h["en"] >= h["es"]) & (h["en"] >= h["de"]) & (h["en"] >= h["fr"]),
            "en",
        )
        .when((h["es"] >= h["de"]) & (h["es"] >= h["fr"]), "es")
        .when(h["de"] >= h["fr"], "de")
        .otherwise("fr")
        .alias("lang_pred"),
    )
    cells = pred.groupBy("lang", "lang_pred").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "lang_pred",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") * 1.0 / F.sum("n").over(w), 6).alias("share"),
    )


# --------------------------------------------------- corpus_source_psi
# Per-source distribution drift vs the corpus: Population Stability Index
# of each source's doc-length histogram (50-char buckets, the
# corpus_profile grain) against the corpus-wide histogram — the standard
# "did this feed shift?" monitor a recurring ingest runs before letting a
# source into the next training mix (PSI < 0.1 stable, > 0.25 act).
# Laplace-smoothed (+0.5 per cell over the GLOBAL bucket set) so empty
# buckets never divide by zero and the index stays finite.
#
# Scale shape: ONE corpus pass collapses map-side to the (source x
# bucket) matrix before the only corpus-fed exchange; everything after
# is matrix-sized — the source/bucket marginals and the 1-row (N, B)
# constants join back BROADCAST, and the grid completion is a
# sources x buckets cross of two tiny distinct sets (pinned: no
# SortMergeJoin anywhere). Engine parity: counts are exact ints, p/q
# terms are identical double expressions, and the per-source sum
# accumulates in DECIMAL over round(term, 9) — partitioning-order-proof
# — before the 6dp display round (+0.0 folds the sub-rounding -0).
@_q(
    "corpus_source_psi",
    """
    WITH c AS (
      SELECT source, CAST(n_chars // 50 AS BIGINT) AS bucket,
             count(*) AS n
      FROM documents GROUP BY 1, 2),
    ts AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_s FROM c GROUP BY 1),
    tb AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS n_b FROM c GROUP BY 1),
    k AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot,
                 CAST(count(DISTINCT bucket) AS BIGINT) AS n_bkt FROM c),
    grid AS (
      SELECT s.source, b.bucket
      FROM (SELECT DISTINCT source FROM c) s
      CROSS JOIN (SELECT DISTINCT bucket FROM c) b),
    j AS (
      SELECT g.source, g.bucket, coalesce(c.n, 0) AS n,
             ts.n_s, tb.n_b, k.n_tot, k.n_bkt
      FROM grid g
      LEFT JOIN c ON c.source = g.source AND c.bucket = g.bucket
      JOIN ts ON ts.source = g.source
      JOIN tb ON tb.bucket = g.bucket
      CROSS JOIN k),
    t AS (
      SELECT source, n_s,
             ((n + 0.5) / (n_s + 0.5 * n_bkt)
              - (n_b + 0.5) / (n_tot + 0.5 * n_bkt))
             * ln(((n + 0.5) / (n_s + 0.5 * n_bkt))
                  / ((n_b + 0.5) / (n_tot + 0.5 * n_bkt))) AS term
      FROM j)
    SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs,
           round(CAST(sum(CAST(round(term, 9) AS DECIMAL(20,9)))
                      AS DOUBLE), 6) + 0.0 AS psi
    FROM t GROUP BY source
    """,
)
def corpus_source_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "source",
        F.expr("CAST(n_chars DIV 50 AS BIGINT)").alias("bucket"),
    )
    # The matrix feeds FIVE branches (marginals x2, constants, grid x2):
    # materialize it once or Catalyst re-aggregates the raw corpus per
    # branch (observed: 6 corpus scans for a sources x buckets
    # intermediate). The checkpoint is matrix-sized.
    c = (
        d.groupBy("source", "bucket")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    ts = c.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_s")
    )
    tb = c.groupBy("bucket").agg(
        F.sum("n").cast("bigint").alias("n_b")
    )
    k = c.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.countDistinct("bucket").cast("bigint").alias("n_bkt"),
    )
    grid = c.select("source").distinct().crossJoin(
        F.broadcast(c.select("bucket").distinct())
    )
    j = (
        grid.join(c, ["source", "bucket"], "left")
        .na.fill(0, ["n"])
        .join(F.broadcast(ts), "source")
        .join(F.broadcast(tb), "bucket")
        .crossJoin(F.broadcast(k))
    )
    p = (F.col("n") + 0.5) / (F.col("n_s") + 0.5 * F.col("n_bkt"))
    q = (F.col("n_b") + 0.5) / (F.col("n_tot") + 0.5 * F.col("n_bkt"))
    t = j.select(
        "source", "n_s", ((p - q) * F.log(p / q)).alias("term")
    )
    return t.groupBy("source").agg(
        F.max("n_s").cast("bigint").alias("n_docs"),
        (
            F.round(
                F.expr(
                    "CAST(sum(CAST(round(term, 9) AS DECIMAL(20,9))) "
                    "AS DOUBLE)"
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("psi"),
    )


# --------------------------------------------- events_seasonal_baseline
# Hour-of-day seasonal baseline + outlier tally: per (event_type, hour)
# mean/stddev of the event value over the corpus, then count how many
# events sit beyond 3 sigma of THEIR OWN (type, hour) cell — the seasonal
# twin of events_anomaly's per-user z-score, and the profile a metrics
# pipeline alerts against ("is tonight's error-value distribution off
# for 3 AM?"). Scale shape: one events pass collapses map-side to the
# 24 x |types| profile before the only corpus-fed exchange; the profile
# joins BACK over the corpus as a BROADCAST for the flag pass (two scans
# of the fact, zero fact-sized shuffles — the two-pass z-score shape the
# r8 verdict explain-audited for events_anomaly). Engine parity: moments
# accumulate in DECIMAL over round(v, 9) / round(v*v, 9); the 3-sigma
# comparison uses the UNROUNDED derived doubles (identical operands both
# engines); displayed mean/sd round to 6dp with the -0 fold.
@_q(
    "events_seasonal_baseline",
    """
    WITH x AS (
      SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr, value AS v
      FROM events),
    prof AS (
      SELECT event_type, hr, count(*) AS n,
             CAST(sum(CAST(round(v, 9) AS DECIMAL(20,9))) AS DOUBLE)
                 / count(*) AS mu,
             sqrt(greatest(
               CAST(sum(CAST(round(v * v, 9) AS DECIMAL(20,9))) AS DOUBLE)
                   / count(*)
                 - (CAST(sum(CAST(round(v, 9) AS DECIMAL(20,9))) AS DOUBLE)
                    / count(*))
                   * (CAST(sum(CAST(round(v, 9) AS DECIMAL(20,9))) AS DOUBLE)
                      / count(*)),
               0.0)) AS sd
      FROM x GROUP BY 1, 2),
    flags AS (
      SELECT x.event_type, x.hr,
             sum(CASE WHEN abs(x.v - p.mu) > 3.0 * p.sd
                      THEN 1 ELSE 0 END) AS n_flagged
      FROM x JOIN prof p ON p.event_type = x.event_type AND p.hr = x.hr
      GROUP BY 1, 2)
    SELECT p.event_type, p.hr, CAST(p.n AS BIGINT) AS n,
           round(p.mu, 6) + 0.0 AS mean_v,
           round(p.sd, 6) + 0.0 AS sd_v,
           CAST(f.n_flagged AS BIGINT) AS n_flagged
    FROM prof p JOIN flags f
      ON f.event_type = p.event_type AND f.hr = p.hr
    """,
)
def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("int").alias("hr"),
        F.col("value").alias("v"),
    )
    s1 = F.expr("CAST(sum(CAST(round(v, 9) AS DECIMAL(20,9))) AS DOUBLE)")
    s2 = F.expr(
        "CAST(sum(CAST(round(v * v, 9) AS DECIMAL(20,9))) AS DOUBLE)"
    )
    # the profile feeds TWO branches (the flag join + the final join):
    # checkpoint the 24 x types rows so the fact isn't re-aggregated per
    # branch (observed: 3 fact scans pre-fix, 2 by design after)
    prof = (
        e.groupBy("event_type", "hr")
        .agg(
            F.count("*").alias("n"),
            (s1 / F.count("*")).alias("mu"),
            F.sqrt(
                F.greatest(
                    s2 / F.count("*")
                    - (s1 / F.count("*")) * (s1 / F.count("*")),
                    F.lit(0.0),
                )
            ).alias("sd"),
        )
        .localCheckpoint(eager=False)
    )
    flags = (
        e.join(F.broadcast(prof), ["event_type", "hr"])
        .groupBy("event_type", "hr")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("v") - F.col("mu"))
                    > F.lit(3.0) * F.col("sd"),
                    1,
                ).otherwise(0)
            ).alias("n_flagged")
        )
    )
    return prof.join(F.broadcast(flags), ["event_type", "hr"]).select(
        "event_type",
        "hr",
        F.col("n").cast("bigint").alias("n"),
        (F.round("mu", 6) + F.lit(0.0)).alias("mean_v"),
        (F.round("sd", 6) + F.lit(0.0)).alias("sd_v"),
        F.col("n_flagged").cast("bigint").alias("n_flagged"),
    )


# ----------------------------------------------------- events_value_pareto
# Engagement concentration: decile table of per-user total value ("the
# top 10% of users produce X% of value") — the Pareto audit behind rate
# limits, sampling caps, and contributor-skew checks on interaction
# data. Scale shape: the fact shuffles ONCE (user grain, map-side
# partials); everything after is USERS-sized — the decile assignment
# needs a total order over per-user totals, which is the one global sort
# this repo allows only on aggregated grains (users ≪ events; at larger
# user counts swap ntile for pre-computed quantile boundaries — same
# output contract). Engine parity: totals accumulate exactly in
# DECIMAL(18,2) (the value column carries 2dp), ntile(10) has identical
# remainder-to-leading-buckets semantics in both engines, ties break by
# user_id, and shares divide exact decimal sums cast to double, rounded
# 6dp.
@_q(
    "events_value_pareto",
    """
    WITH per_user AS (
      SELECT user_id,
             sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS v
      FROM events GROUP BY user_id),
    deciled AS (
      SELECT user_id, v,
             ntile(10) OVER (ORDER BY v DESC, user_id) AS decile
      FROM per_user),
    tot AS (SELECT sum(v) AS vt, count(*) AS nu FROM per_user),
    cells AS (
      SELECT decile, count(*) AS n_users, sum(v) AS dv
      FROM deciled GROUP BY decile)
    SELECT decile, CAST(n_users AS BIGINT) AS n_users,
           round(CAST(dv AS DOUBLE) / CAST(t.vt AS DOUBLE), 6)
               AS share_of_value,
           round(CAST(sum(dv) OVER (ORDER BY decile) AS DOUBLE)
                 / CAST(t.vt AS DOUBLE), 6) AS cum_share
    FROM cells CROSS JOIN tot t
    """,
)
def events_value_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # per_user feeds TWO branches (decile assignment + grand total):
    # materialize it once or Catalyst re-aggregates the raw fact per
    # branch (observed: 2 fact scans + 2 fact-sized exchanges).
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.expr(
                "sum(CAST(round(value, 2) AS DECIMAL(18,2)))"
            ).alias("v")
        )
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy(F.col("v").desc(), "user_id")
    deciled = per_user.select(
        "v", F.ntile(10).over(w).alias("decile")
    )
    tot = per_user.agg(
        F.sum("v").alias("vt"), F.count("*").alias("nu")
    )
    cells = deciled.groupBy("decile").agg(
        F.count("*").alias("n_users"), F.sum("v").alias("dv")
    )
    wc = Window.orderBy("decile")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            F.col("n_users").cast("bigint").alias("n_users"),
            F.round(
                F.col("dv").cast("double") / F.col("vt").cast("double"), 6
            ).alias("share_of_value"),
            F.round(
                F.sum("dv").over(wc).cast("double")
                / F.col("vt").cast("double"),
                6,
            ).alias("cum_share"),
        )
    )


# --------------------------------------------------------- events_streaks
# Consecutive-day activity streaks per user — the canonical
# gaps-and-islands window pattern (habit/retention metric: "longest run
# of daily activity"). island id = active_day - row_number(): constant
# within a consecutive run, jumps across gaps. Scale shape: the fact
# collapses map-side to (user, day) grain before ONE user-keyed
# exchange; both windows (row_number, island grouping) and the final
# per-user fold reuse that single partitioning (pinned: exactly one hash
# exchange) — day grids are integer-exact in both engines, ties for the
# longest streak break to the EARLIEST start.
@_q(
    "events_streaks",
    """
    WITH isl AS (
      SELECT user_id, d,
             CAST(d - CAST('2024-01-01' AS DATE) AS INTEGER)
               - CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS grp
      FROM (SELECT user_id, CAST(ts AS DATE) AS d FROM events)),
    runs AS (
      SELECT user_id, grp, count(DISTINCT d) AS len,
             min(d) AS run_start, max(d) AS run_end
      FROM isl GROUP BY 1, 2)
    SELECT user_id,
           CAST(sum(len) AS BIGINT) AS n_active_days,
           CAST(max(len) AS BIGINT) AS longest_streak,
           min(CASE WHEN len = ml THEN run_start END) AS streak_start
    FROM (SELECT *, max(len) OVER (PARTITION BY user_id) AS ml FROM runs)
    GROUP BY user_id
    """,
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # day-dedup rides the SAME user_id partitioning as everything else:
    # dense_rank over the raw (user, day) rows gives duplicates of a day
    # the same rank (so the same island id), and count(DISTINCT d) does
    # the dedup inside the run fold — a separate .distinct() first would
    # cost its own (user, day) exchange before the user window.
    days = e.select("user_id", F.col("ts").cast("date").alias("d"))
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        "d",
        (
            F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")).cast(
                "int"
            )
            - F.dense_rank().over(w).cast("int")
        ).alias("grp"),
    )
    runs = isl.groupBy("user_id", "grp").agg(
        F.countDistinct("d").alias("len"),
        F.min("d").alias("run_start"),
        F.max("d").alias("run_end"),
    )
    wu = Window.partitionBy("user_id")
    return (
        runs.withColumn("ml", F.max("len").over(wu))
        .groupBy("user_id")
        .agg(
            F.sum("len").cast("bigint").alias("n_active_days"),
            F.max("len").cast("bigint").alias("longest_streak"),
            F.min(
                F.when(F.col("len") == F.col("ml"), F.col("run_start"))
            ).alias("streak_start"),
        )
    )


# ------------------------------------------------------------ events_rfm
# RFM (recency / frequency / monetary) customer segmentation — the
# classic engagement-grading grid behind lifecycle campaigns and churn
# triage. Each user's three metrics are scored 1-5 against the corpus's
# own quintile cutpoints, then the population is profiled per (r, f, m)
# cell with a named segment.
#
# Scale shape: the fact shuffles ONCE (user grain, map-side partials).
# Scoring does NOT use a global ntile window (a total order over all
# users — the thing events_value_pareto's docstring promises to swap out
# at scale): the four cutpoints per metric come from ONE single-row
# percentile aggregate over the users-sized table, broadcast back, so
# classification is a map-side projection. Two exchanges total (user
# agg + the 125-cell final fold), no global sort anywhere.
#
# Engine parity: metrics are exact (ints; DECIMAL(18,2) money). Both
# engines interpolate percentiles linearly over the SAME doubles, and
# every true cutpoint has <= 4 decimal digits (quintile fractions x
# 2dp-grid money), so round(cut, 4) erases any ulp disagreement in the
# interpolation order before the >= comparisons run.
_RFM_P = "0.2, 0.4, 0.6, 0.8"


def _rfm_score(v: str, cuts: list[str], reverse: bool = False) -> str:
    """1-5 score: identical CASE-free SQL in both dialects."""
    op = "<" if reverse else ">"
    terms = " + ".join(
        f"(CASE WHEN {v} {op} {c} THEN 1 ELSE 0 END)" for c in cuts
    )
    return f"1 + {terms}"


_RFM_SEG = """
CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
     WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
     WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
     WHEN f_score >= 4 THEN 'loyal'
     WHEN m_score >= 4 THEN 'big_spender'
     ELSE 'regular' END
"""

_RFM_R_SCORE = _rfm_score("recency_d", ["rc1", "rc2", "rc3", "rc4"], reverse=True)
_RFM_F_SCORE = _rfm_score("freq", ["fc1", "fc2", "fc3", "fc4"])
_RFM_M_SCORE = _rfm_score("CAST(monetary AS DOUBLE)", ["mc1", "mc2", "mc3", "mc4"])


@_q(
    "events_rfm",
    f"""
    WITH per_user AS (
      SELECT user_id,
             max(CAST(ts AS DATE)) AS last_d,
             count(*) AS freq,
             sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS monetary
      FROM events GROUP BY user_id),
    anchor AS (SELECT max(last_d) AS a0 FROM per_user),
    rfm AS (
      SELECT user_id,
             CAST(a.a0 - last_d AS INTEGER) AS recency_d,
             freq, monetary
      FROM per_user CROSS JOIN anchor a),
    cuts AS (
      SELECT quantile_cont(CAST(recency_d AS DOUBLE), [{_RFM_P}]) AS rc,
             quantile_cont(CAST(freq AS DOUBLE), [{_RFM_P}]) AS fc,
             quantile_cont(CAST(monetary AS DOUBLE), [{_RFM_P}]) AS mc
      FROM rfm),
    scored AS (
      SELECT user_id, recency_d, freq, monetary,
             {_RFM_R_SCORE} AS r_score,
             {_RFM_F_SCORE} AS f_score,
             {_RFM_M_SCORE} AS m_score
      FROM rfm CROSS JOIN (
        SELECT round(rc[1], 4) AS rc1, round(rc[2], 4) AS rc2,
               round(rc[3], 4) AS rc3, round(rc[4], 4) AS rc4,
               round(fc[1], 4) AS fc1, round(fc[2], 4) AS fc2,
               round(fc[3], 4) AS fc3, round(fc[4], 4) AS fc4,
               round(mc[1], 4) AS mc1, round(mc[2], 4) AS mc2,
               round(mc[3], 4) AS mc3, round(mc[4], 4) AS mc4
        FROM cuts))
    SELECT r_score, f_score, m_score,
           {_RFM_SEG} AS segment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(CAST(sum(monetary) AS DECIMAL(18,2)) AS DOUBLE)
               AS total_value,
           CAST(round(avg(CAST(recency_d AS DOUBLE)), 4) AS DOUBLE)
               AS avg_recency_d
    FROM scored
    GROUP BY r_score, f_score, m_score
    """,
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # per_user feeds three branches (anchor, cutpoints, scoring):
    # materialize once or Catalyst re-runs the fact-sized aggregate per
    # branch (the events_value_pareto lesson).
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_d"),
            F.count(F.lit(1)).alias("freq"),
            F.expr("sum(CAST(round(value, 2) AS DECIMAL(18,2)))").alias(
                "monetary"
            ),
        )
        .localCheckpoint(eager=False)
    )
    anchor = per_user.agg(F.max("last_d").alias("a0"))
    rfm = (
        per_user.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff("a0", "last_d").cast("int").alias("recency_d"),
            "freq",
            "monetary",
        )
        .localCheckpoint(eager=False)
    )
    cuts = rfm.agg(
        F.expr(
            f"percentile(CAST(recency_d AS DOUBLE), array({_RFM_P}))"
        ).alias("rc"),
        F.expr(f"percentile(CAST(freq AS DOUBLE), array({_RFM_P}))").alias(
            "fc"
        ),
        F.expr(
            f"percentile(CAST(monetary AS DOUBLE), array({_RFM_P}))"
        ).alias("mc"),
    ).selectExpr(
        *[
            f"round({m}[{i}], 4) AS {m}{i + 1}"
            for m in ("rc", "fc", "mc")
            for i in range(4)
        ]
    )
    scored = rfm.crossJoin(F.broadcast(cuts)).selectExpr(
        "user_id",
        "recency_d",
        "freq",
        "monetary",
        f"{_RFM_R_SCORE} AS r_score",
        f"{_RFM_F_SCORE} AS f_score",
        f"{_RFM_M_SCORE} AS m_score",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("monetary")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_value"),
            F.round(F.avg(F.col("recency_d").cast("double")), 4)
            .cast("double")
            .alias("avg_recency_d"),
        )
        .selectExpr(
            "r_score",
            "f_score",
            "m_score",
            f"{_RFM_SEG} AS segment",
            "n_users",
            "total_value",
            "avg_recency_d",
        )
        .select(
            "r_score", "f_score", "m_score", "segment",
            "n_users", "total_value", "avg_recency_d",
        )
    )


# ------------------------------------------------ events_interarrival_fit
# Inter-arrival cadence fit per event type: exponential-rate MLE
# (lambda = 1/mean gap), coefficient of variation, and Goh-Barabasi
# burstiness B = (sigma - mu)/(sigma + mu) over per-user gap streams —
# the traffic-model monitor that separates Poisson-like organic
# activity (B ~ 0, CV ~ 1) from bursty automation (B -> 1) and
# metronomic bots (B -> -1) at the TYPE grain (events_bot_detect is the
# per-user twin).
#
# Scale shape: ONE (user, type) exchange feeds the lag window; the
# type-grain moment fold reuses map-side partials (rows out of the scan
# ≤ 5 types per task). Engine parity: gaps are exact integer
# microseconds; both moments are DECIMAL sums of round(term, 9)
# (partitioning-order-proof); mean/CV/burstiness then evaluate the SAME
# double expression in both engines and round on output.
_IAF_MOM = "CAST(sum(CAST(round({t}, 9) AS DECIMAL(38,9))) AS DOUBLE)"
_IAF_FINAL = """
    CAST(n AS BIGINT) AS n_gaps,
    round(s1 / n, 4) AS mean_gap_s,
    round(sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0))
          / (s1 / n), 6) AS cv,
    round((sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) - s1 / n)
          / (sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) + s1 / n),
          6) AS burstiness,
    round(n / s1, 6) AS rate_per_s
"""


@_q(
    "events_interarrival_fit",
    f"""
    WITH gaps AS (
      SELECT event_type,
             (epoch_us(ts) - epoch_us(
                lag(ts) OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id))) / 1000000.0 AS g
      FROM events),
    moms AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
             {_IAF_MOM.format(t="g")} AS s1,
             {_IAF_MOM.format(t="g * g")} AS s2
      FROM gaps WHERE g IS NOT NULL GROUP BY event_type)
    SELECT event_type, {_IAF_FINAL}
    FROM moms
    """,
)
def events_interarrival_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = e.select(
        "event_type",
        (
            (
                F.unix_micros("ts")
                - F.unix_micros(F.lag("ts").over(w))
            )
            / 1_000_000.0
        ).alias("g"),
    ).filter(F.col("g").isNotNull())
    moms = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.expr(_IAF_MOM.format(t="g")).alias("s1"),
        F.expr(_IAF_MOM.format(t="g * g")).alias("s2"),
    )
    sd = "sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0))"
    return moms.selectExpr(
        "event_type",
        "CAST(n AS BIGINT) AS n_gaps",
        "round(s1 / n, 4) AS mean_gap_s",
        f"round({sd} / (s1 / n), 6) AS cv",
        f"round(({sd} - s1 / n) / ({sd} + s1 / n), 6) AS burstiness",
        "round(n / s1, 6) AS rate_per_s",
    )


# --------------------------------------------------------- events_ab_test
# Two-proportion A/B significance readout: users hash-split 50/50 into
# variants (the same derived-membership contract as corpus_mix — no
# assignment table to store or join), conversion = "heavy purchaser"
# (>= 14 purchase events — roughly the per-user median, so the split is
# informative; raw "ever purchased" saturates at 100% on this data and
# degenerates the pooled variance), and the output is the per-variant
# funnel plus the pooled two-sample z-statistic — the decision row every
# experimentation platform renders. The z guard returns NULL when the
# pooled rate is 0 or 1 (identical CASE in both engines).
#
# Scale shape: the fact folds to user grain in ONE exchange (map-side
# partials); the variant rollup is 2 rows; the z-stat is computed by
# crossing those 2 rows once (broadcast, constant-sized). Engine
# parity: conversion counts are exact ints; rates and the z-statistic
# divide the SAME integer-derived doubles in both engines, rounded 6dp.
_AB_HASH = "('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2"
_AB_HASH_SPARK = (
    "conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) % 2"
)


@_q(
    "events_ab_test",
    f"""
    WITH per_user AS (
      SELECT user_id,
             CAST({_AB_HASH} AS INTEGER) AS variant,
             CASE WHEN sum(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id),
    cells AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_converted
      FROM per_user GROUP BY variant),
    wide AS (
      SELECT
        max(CASE WHEN variant = 0 THEN n_users END) AS na,
        max(CASE WHEN variant = 0 THEN n_converted END) AS ca,
        max(CASE WHEN variant = 1 THEN n_users END) AS nb,
        max(CASE WHEN variant = 1 THEN n_converted END) AS cb
      FROM cells)
    SELECT c.variant, c.n_users, c.n_converted,
           round(CAST(c.n_converted AS DOUBLE) / c.n_users, 6) AS conv_rate,
           CASE WHEN w.ca + w.cb = 0 OR w.ca + w.cb = w.na + w.nb THEN NULL
                ELSE round((CAST(w.ca AS DOUBLE) / w.na
                            - CAST(w.cb AS DOUBLE) / w.nb)
                 / sqrt((CAST(w.ca + w.cb AS DOUBLE) / (w.na + w.nb))
                        * (1 - CAST(w.ca + w.cb AS DOUBLE) / (w.na + w.nb))
                        * (1.0 / w.na + 1.0 / w.nb)), 6) END AS z_stat
    FROM cells c CROSS JOIN wide w
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.expr(f"CAST({_AB_HASH_SPARK} AS INT)").alias("variant"),
        F.expr(
            "CASE WHEN sum(CASE WHEN event_type = 'purchase'"
            " THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END"
        ).alias("converted"),
    )
    # variant is FUNCTIONALLY dependent on the group key (pure hash of
    # user_id) — computing it inside agg() keeps one exchange.
    cells = (
        per_user.groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("converted").cast("bigint").alias("n_converted"),
        )
        .localCheckpoint(eager=False)
    )
    wide = cells.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias(
            "ca"
        ),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias(
            "cb"
        ),
    )
    pool = "CAST(ca + cb AS DOUBLE) / (na + nb)"
    return cells.crossJoin(F.broadcast(wide)).selectExpr(
        "variant",
        "n_users",
        "n_converted",
        "round(CAST(n_converted AS DOUBLE) / n_users, 6) AS conv_rate",
        f"CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN NULL"
        f" ELSE round((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)"
        f" / sqrt(({pool}) * (1 - {pool})"
        f" * (1.0 / na + 1.0 / nb)), 6) END AS z_stat",
    )


# ---------------------------------------------- events_conversion_lag
# Conversion-latency distribution: per user, the lag from first view to
# the first purchase AFTER it (the funnel's stage-1→3 dwell time),
# summarized as exact quartiles + p90 per cohort-week — the "how long
# does conversion take" readout that prices retargeting windows and
# sets attribution horizons (events_funnel counts WHO converts; this
# measures HOW FAST).
#
# Scale shape: the same cascaded per-user aggregates as events_funnel
# (one user-grain partitioning reused; no per-user event list
# materializes), then an exact interpolated percentile over the
# users-sized lag table (agg_exact_percentile's contract: Spark
# percentile() ≡ DuckDB quantile_cont given identical inputs — lags are
# exact integer seconds, quartile outputs rounded 4dp as
# belt-and-braces).
@_q(
    "events_conversion_lag",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    p AS (
      SELECT e.user_id,
             CAST(date_trunc('week', v.t1) AS DATE) AS cohort_week,
             (epoch_us(min(e.ts)) - epoch_us(v.t1)) // 1000000 AS lag_s
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > v.t1
      GROUP BY e.user_id, v.t1)
    SELECT cohort_week,
           CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(CAST(lag_s AS DOUBLE), 0.25), 4) AS p25_s,
           round(quantile_cont(CAST(lag_s AS DOUBLE), 0.50), 4) AS p50_s,
           round(quantile_cont(CAST(lag_s AS DOUBLE), 0.75), 4) AS p75_s,
           round(quantile_cont(CAST(lag_s AS DOUBLE), 0.90), 4) AS p90_s
    FROM p GROUP BY cohort_week
    """,
)
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.join(v, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t1")))
        .groupBy("user_id", "t1")
        .agg(
            (
                (F.unix_micros(F.min("ts")) - F.unix_micros(F.col("t1")))
                / F.lit(1_000_000)
            )
            .cast("bigint")
            .alias("lag_s"),
        )
        .select(
            F.date_trunc("week", "t1").cast("date").alias("cohort_week"),
            "lag_s",
        )
    )
    qs = {"p25_s": 0.25, "p50_s": 0.50, "p75_s": 0.75, "p90_s": 0.90}
    return p.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        *[
            F.round(
                F.expr(f"percentile(CAST(lag_s AS DOUBLE), {q})"), 4
            ).alias(nm)
            for nm, q in qs.items()
        ],
    )


# ------------------------------------------------------ events_ltv_cohort
# Cohort LTV curve: users grouped by first-seen week; each cohort's
# per-user CUMULATIVE value traced over age (weeks since cohort start) —
# the revenue twin of events_retention's user counts, and the curve
# payback/CAC decisions read ("cohort 2024-01-08 reaches $X/user by
# week 3"). Scale shape: the same one-user-exchange-reused contract as
# retention (cohort map built once, join back reuses the partitioning);
# the cell fold shuffles only (cohort, age) pairs — weeks²-bounded —
# and the cumulative window runs over that tiny aggregate. Engine
# parity: values accumulate exactly in DECIMAL(18,2); per-user division
# happens once on the exact cumulative sum, rounded 4dp.
@_q(
    "events_ltv_cohort",
    """
    WITH cohort AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS DATE) AS c0
      FROM events GROUP BY user_id),
    sizes AS (SELECT c0, count(*) AS n_users FROM cohort GROUP BY c0),
    cells AS (
      SELECT c.c0,
             CAST((CAST(date_trunc('week', e.ts) AS DATE) - c.c0) // 7
                  AS INTEGER) AS age_week,
             sum(CAST(round(e.value, 2) AS DECIMAL(18,2))) AS v
      FROM events e JOIN cohort c USING (user_id)
      GROUP BY c.c0, age_week)
    SELECT cells.c0 AS cohort_week, age_week,
           CAST(s.n_users AS BIGINT) AS n_users,
           CAST(CAST(v AS DECIMAL(18,2)) AS DOUBLE) AS week_value,
           round(CAST(sum(v) OVER (PARTITION BY cells.c0 ORDER BY age_week)
                      AS DOUBLE) / s.n_users, 4) AS cum_ltv_per_user
    FROM cells JOIN sizes s ON cells.c0 = s.c0
    """,
)
def events_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    cohort = (
        e.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("c0"))
        .localCheckpoint(eager=False)
    )
    sizes = cohort.groupBy("c0").agg(F.count(F.lit(1)).alias("n_users"))
    cells = (
        e.join(cohort, "user_id")
        .groupBy(
            "c0",
            (
                F.datediff(
                    F.date_trunc("week", "ts").cast("date"), F.col("c0")
                )
                / 7
            )
            .cast("int")
            .alias("age_week"),
        )
        .agg(
            F.expr("sum(CAST(round(value, 2) AS DECIMAL(18,2)))").alias("v")
        )
    )
    w = Window.partitionBy("c0").orderBy("age_week")
    return cells.join(F.broadcast(sizes), "c0").select(
        F.col("c0").alias("cohort_week"),
        "age_week",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("v").cast("decimal(18,2)").cast("double").alias("week_value"),
        F.round(
            F.sum("v").over(w).cast("double") / F.col("n_users"), 4
        ).alias("cum_ltv_per_user"),
    )


# --------------------------------------------------------- dq_expectations
# Declarative data-quality expectations — the Great-Expectations/dbt-test
# archetype run as ONE query before a pipeline admits a batch: each
# expectation is a (table, rule) pair scored with its violation count and
# a pass flag. Rules cover the three classic families: column constraints
# (not-null, value range, derived-field consistency), referential
# integrity (orphan foreign keys via anti-join semantics), and
# uniqueness (duplicate primary keys). At 100 TB each rule is either a
# map-side count over its own scan or an anti-join on the key — nothing
# here is quadratic, and the whole suite unions to a fixed-size report
# (one row per rule), so it composes into any orchestration as a single
# cheap gate job. Counts are exact integers — the oracle is trivially
# bit-identical.
_DQ_RULES_SQL = """
    SELECT 'events' AS tbl, 'user_id_not_null' AS expectation,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations
    FROM events
    UNION ALL
    SELECT 'events', 'value_in_range_0_1000',
           CAST(sum(CASE WHEN value < 0 OR value > 1000 THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'documents', 'n_chars_matches_text',
           CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'documents', 'doc_id_unique',
           CAST((SELECT count(*) - count(DISTINCT doc_id) FROM documents)
                AS BIGINT)
    UNION ALL
    SELECT 'orders', 'custkey_references_customer',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem', 'orderkey_references_orders',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
"""


@_q(
    "dq_expectations",
    f"""
    SELECT tbl, expectation, n_violations,
           n_violations = 0 AS pass
    FROM ({_DQ_RULES_SQL})
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    d = load(spark, sf_dir, "documents")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")

    def rule(tbl: str, name: str, cnt) -> DataFrame:
        return cnt.select(
            F.lit(tbl).alias("tbl"),
            F.lit(name).alias("expectation"),
            F.col("n").cast("bigint").alias("n_violations"),
        )

    rules = [
        rule(
            "events", "user_id_not_null",
            ev.agg(F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias("n")),
        ),
        rule(
            "events", "value_in_range_0_1000",
            ev.agg(
                F.sum(
                    F.when((F.col("value") < 0) | (F.col("value") > 1000), 1)
                    .otherwise(0)
                ).alias("n")
            ),
        ),
        rule(
            "documents", "n_chars_matches_text",
            d.agg(
                F.sum(
                    F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
                ).alias("n")
            ),
        ),
        rule(
            "documents", "doc_id_unique",
            d.agg((F.count(F.lit(1)) - F.countDistinct("doc_id")).alias("n")),
        ),
        rule(
            "orders", "custkey_references_customer",
            o.join(
                c.select(F.col("c_custkey").alias("o_custkey")),
                "o_custkey", "left_anti",
            ).agg(F.count(F.lit(1)).alias("n")),
        ),
        rule(
            "lineitem", "orderkey_references_orders",
            li.join(
                o.select(F.col("o_orderkey").alias("l_orderkey")),
                "l_orderkey", "left_anti",
            ).agg(F.count(F.lit(1)).alias("n")),
        ),
    ]
    out = rules[0]
    for r in rules[1:]:
        out = out.unionAll(r)
    return out.withColumn("pass", F.col("n_violations") == 0)


# -------------------------------------------------------- events_scd2_tiers
# SCD Type-2 interval building — the warehouse dimension-history pattern
# (effective_from / effective_to / is_current) applied to a derived
# attribute: each user's weekly spend tier (low/mid/high on fixed
# DECIMAL-exact thresholds). Consecutive weeks at the same tier collapse
# into one validity interval; a tier change closes the old row the day
# before the new week starts; the newest row stays open
# (effective_to NULL, is_current true). This is the exact computation a
# MERGE-driven SCD2 dimension load performs, expressed as one
# declarative pass — useful both as the initial-history backfill and as
# the oracle for an incremental loader.
#
# Scale shape: the (user, week) aggregate shuffles ONCE with map-side
# partials (the fact never moves raw — a user-grain repartition first
# would skip the partial combine and shuffle every event); both windows
# (change-detection lag, interval-close lead) then share one user-grain
# exchange of the already user-week-sized aggregate. Two exchanges, the
# second aggregate-sized; no joins.
# Engine parity: tiers compare exact DECIMAL sums against literal
# thresholds; dates are integer arithmetic.
_SCD2_TIER = """
    CASE WHEN wv < 1000 THEN 'low'
         WHEN wv < 3000 THEN 'mid'
         ELSE 'high' END
"""


@_q(
    "events_scd2_tiers",
    f"""
    WITH weekly AS (
      SELECT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk,
             sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS wv
      FROM events GROUP BY user_id, wk),
    tiered AS (
      SELECT user_id, wk, {_SCD2_TIER} AS tier FROM weekly),
    changes AS (
      SELECT user_id, wk, tier
      FROM (SELECT user_id, wk, tier,
                   lag(tier) OVER (PARTITION BY user_id ORDER BY wk)
                     AS prev_tier
            FROM tiered)
      WHERE prev_tier IS NULL OR tier <> prev_tier)
    SELECT user_id, tier,
           wk AS effective_from,
           lead(wk) OVER (PARTITION BY user_id ORDER BY wk) - 1
             AS effective_to,
           lead(wk) OVER (PARTITION BY user_id ORDER BY wk) IS NULL
             AS is_current
    FROM changes
    """,
)
def events_scd2_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    weekly = e.groupBy(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).agg(F.expr("sum(CAST(round(value, 2) AS DECIMAL(18,2)))").alias("wv"))
    tiered = weekly.selectExpr("user_id", "wk", f"{_SCD2_TIER} AS tier")
    w = Window.partitionBy("user_id").orderBy("wk")
    changes = (
        tiered.withColumn("prev_tier", F.lag("tier").over(w))
        .filter(
            F.col("prev_tier").isNull()
            | (F.col("tier") != F.col("prev_tier"))
        )
        .select("user_id", "wk", "tier")
    )
    return changes.select(
        "user_id",
        "tier",
        F.col("wk").alias("effective_from"),
        F.date_sub(F.lead("wk").over(w), 1).alias("effective_to"),
        F.lead("wk").over(w).isNull().alias("is_current"),
    )


# --------------------------------------------------- events_audience_overlap
# Audience overlap matrix: Jaccard similarity of the USER SETS behind
# each event-type pair ("do clickers and purchasers overlap?") — the
# audience-analysis primitive behind segment targeting and cannibalization
# checks; the same inverted-index + sizes join-back shape as the dedup
# family, applied to behavioral sets. Scale shape: the fact collapses
# map-side to the distinct (user, type) grain in ONE exchange; the
# type-pair self-join is keyed on user_id (parallelism = users, pair
# fan-out bounded by types² per user); sizes broadcast back onto the
# types²-sized pair table. Exact ints → exact Jaccard, rounded 6dp.
@_q(
    "events_audience_overlap",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sizes AS (SELECT event_type, count(*) AS n FROM ut GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           round(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both), 6)
               AS jaccard
    FROM pairs
    JOIN sizes sa ON pairs.type_a = sa.event_type
    JOIN sizes sb ON pairs.type_b = sb.event_type
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # ut feeds three consumers (both self-join sides + sizes)
    ut = (
        e.select("user_id", "event_type")
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = ut.alias("a"), ut.alias("b")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a", "type_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


# -------------------------------------------------------- events_ewma_chart
# EWMA control chart per event type: exponentially-weighted moving
# average of the daily mean value, plus each day's deviation from the
# prior smoothed level and an out-of-band flag — the classic
# monitoring-chart operator (Roberts 1959) behind "did today's metric
# drift" alerts. The recursion ewma_t = λ·x_t + (1-λ)·ewma_{t-1}
# (seeded at x_0) is expanded to its weighted-sum form and computed over
# the DAYS×DAYS grid (a self-join of the tiny per-type daily series on
# b.t <= a.t) — no recursive CTE, no Python fold, and the grid is
# days²-bounded regardless of fact size.
#
# Engine parity (hard-won): λ = 0.5 makes every weight an exact power
# of two, so each term v_i·2^-k is an EXACT IEEE scaling; terms round
# to 9dp DECIMAL before the order-free decimal sum, and the final
# decimal→double conversion stays in the exactly-convertible range.
# (Two rejected forms both diverged by 1 ulp: a 2^t-scaled prefix sum
# pushed the decimal past double precision — Spark converts
# correctly-rounded, DuckDB via a scaled division — and a plain 4dp
# round() split on a .00005 half-way tie. The grid form is
# bit-identical at all three SFs.) Scale shape: the fact collapses
# map-side to the (type × day) grain in ONE exchange; the grid
# self-join and windows run over that tiny checkpointed series.
_EWMA_L = 0.5


@_q(
    "events_ewma_chart",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS v
      FROM events GROUP BY event_type, d),
    idx AS (
      SELECT event_type, d, v,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                  - 1 AS INTEGER) AS t
      FROM daily),
    sm AS (
      SELECT a.event_type, a.d, a.v, a.t,
             CAST(sum(CAST(round(
                 b.v * pow(0.5, CASE WHEN b.t = 0 THEN a.t
                                ELSE a.t - b.t + 1 END), 9)
               AS DECIMAL(20,9))) AS DOUBLE) AS ewma
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND b.t <= a.t
      GROUP BY a.event_type, a.d, a.v, a.t)
    SELECT event_type, d AS day, v AS day_mean, ewma,
           v - lag(ewma) OVER (PARTITION BY event_type ORDER BY t)
             AS deviation,
           abs(v - lag(ewma) OVER (PARTITION BY event_type ORDER BY t))
             > 0.15 * lag(ewma) OVER (PARTITION BY event_type ORDER BY t)
             AS out_of_band
    FROM sm
    """,
)
def events_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        (
            F.expr(
                "CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE)"
            )
            / F.count(F.lit(1))
        ).alias("v")
    )
    wt = Window.partitionBy("event_type").orderBy("d")
    idx = daily.withColumn(
        "t", (F.row_number().over(wt) - 1).cast("int")
    ).localCheckpoint(eager=False)
    a, b = idx.alias("a"), idx.alias("b")
    term = (
        "CAST(round(b.v * pow(0.5, CASE WHEN b.t = 0 THEN a.t"
        " ELSE a.t - b.t + 1 END), 9) AS DECIMAL(20,9))"
    )
    sm = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.t") <= F.col("a.t")),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.col("a.d").alias("d"),
            F.col("a.v").alias("v"),
            F.col("a.t").alias("t"),
        )
        .agg(F.expr(f"CAST(sum({term}) AS DOUBLE)").alias("ewma"))
    )
    wo = Window.partitionBy("event_type").orderBy("t")
    prev = F.lag("ewma").over(wo)
    return sm.select(
        "event_type",
        F.col("d").alias("day"),
        F.col("v").alias("day_mean"),
        "ewma",
        (F.col("v") - prev).alias("deviation"),
        (F.abs(F.col("v") - prev) > 0.15 * prev).alias("out_of_band"),
    )


# ---------------------------------------------------- events_survival_curve
# Kaplan-Meier churn survival: S(t) = Π_{i<=t} (1 - d_i/n_i) over user
# lifetime ages (days from first to last event), with users still
# active on the corpus's final day treated as CENSORED (the estimator's
# whole point — dropping them would bias churn high). The retention
# matrix counts who returns; the survival curve estimates the lifetime
# distribution itself — the churn readout actuarial/LTV models consume.
#
# Scale shape: the fact folds to per-user (first, last) in ONE
# exchange; everything after is an ages-sized grid (≤ observation-window
# days): cumulative at-risk/churn counts ride one window, and the
# product telescopes as exp(Σ ln(1-d/n)) with the ln terms rounded to
# 9dp DECIMAL so the running sum is order-free (the EWMA lesson —
# window fold order differs between engines). Engine parity: d/n are
# exact ints; ln/exp evaluate on identical doubles.
@_q(
    "events_survival_curve",
    """
    WITH per_user AS (
      SELECT user_id,
             min(CAST(ts AS DATE)) AS fd,
             max(CAST(ts AS DATE)) AS ld
      FROM events GROUP BY user_id),
    anchor AS (SELECT max(ld) AS endd FROM per_user),
    ages AS (
      SELECT CAST(ld - fd AS INTEGER) AS age,
             (ld >= a.endd) AS censored
      FROM per_user CROSS JOIN anchor a),
    grid AS (
      SELECT age,
             count(*) AS n_leaving,
             CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
               AS d_churn
      FROM ages GROUP BY age),
    risk AS (
      SELECT age, d_churn,
             sum(n_leaving) OVER (ORDER BY age DESC) AS n_at_risk
      FROM grid),
    km AS (
      SELECT age, d_churn, CAST(n_at_risk AS BIGINT) AS n_at_risk,
             CAST(sum(CAST(round(
                   ln(1.0 - CAST(d_churn AS DOUBLE) / n_at_risk), 9)
                 AS DECIMAL(20,9))) OVER (ORDER BY age) AS DOUBLE) AS lsum
      FROM risk WHERE d_churn < n_at_risk)
    SELECT age, n_at_risk, d_churn,
           round(exp(lsum), 6) AS survival
    FROM km
    """,
)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("fd"),
        F.max(F.col("ts").cast("date")).alias("ld"),
    ).localCheckpoint(eager=False)
    anchor = per_user.agg(F.max("ld").alias("endd"))
    ages = per_user.crossJoin(F.broadcast(anchor)).select(
        F.datediff("ld", "fd").cast("int").alias("age"),
        (F.col("ld") >= F.col("endd")).alias("censored"),
    )
    grid = ages.groupBy("age").agg(
        F.count(F.lit(1)).alias("n_leaving"),
        F.sum(F.when(F.col("censored"), 0).otherwise(1))
        .cast("bigint")
        .alias("d_churn"),
    )
    w_desc = Window.orderBy(F.col("age").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grid.select(
        "age", "d_churn", F.sum("n_leaving").over(w_desc).alias("n_at_risk")
    )
    w_asc = Window.orderBy("age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = risk.filter(F.col("d_churn") < F.col("n_at_risk")).select(
        "age",
        F.col("d_churn"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.expr(
            "CAST(sum(CAST(round(ln(1.0 - CAST(d_churn AS DOUBLE)"
            " / n_at_risk), 9) AS DECIMAL(20,9)))"
            " OVER (ORDER BY age ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND CURRENT ROW) AS DOUBLE)"
        ).alias("lsum"),
    )
    return km.select(
        "age", "n_at_risk", "d_churn",
        F.round(F.exp("lsum"), 6).alias("survival"),
    )


# ------------------------------------------------- events_peak_concurrency
# Peak-concurrency curve: the maximum number of SIMULTANEOUSLY active
# users per day (and when the peak happens) — the capacity-planning
# twin of join_interval_overlap (that op counts concurrent PAIRS; this
# sweeps the actual concurrency level). Classic sweep-line re-expressed
# relationally: each user-day span emits a +1 at its start and a -1
# after its end, a running sum over the day's ordered deltas is the
# live-concurrency curve, and the per-day max (earliest-instant
# tie-break) is the answer.
#
# Scale shape: the fact folds to user-day spans in ONE exchange; the
# delta stream is 2 rows per span; the running sum partitions BY DAY
# (each day's sweep is an independent task — at 100 TB the day grain
# keeps every sort bounded and parallel). Ties: deltas at the same
# microsecond order (-1 before +1) so touching-but-not-overlapping
# spans never inflate the peak; integer counts, exact in both engines.
@_q(
    "events_peak_concurrency",
    """
    WITH spans AS (
      SELECT user_id, CAST(ts AS DATE) AS d, min(ts) AS s, max(ts) AS e
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    deltas AS (
      SELECT d, s AS at, epoch_us(s) AS us, 1 AS delta FROM spans
      UNION ALL
      SELECT d, e AS at, epoch_us(e) + 1 AS us, -1 AS delta FROM spans),
    curve AS (
      SELECT d, at,
             sum(delta) OVER (PARTITION BY d ORDER BY us, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS live
      FROM deltas)
    SELECT d AS day,
           CAST(max(live) AS BIGINT) AS peak_concurrency,
           min(CASE WHEN live = ml THEN at END) AS peak_at
    FROM (SELECT *, max(live) OVER (PARTITION BY d) AS ml FROM curve)
    GROUP BY d
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    spans = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    deltas = spans.select(
        "d",
        F.col("s").alias("at"),
        F.unix_micros("s").alias("us"),
        F.lit(1).alias("delta"),
    ).unionAll(
        spans.select(
            "d",
            F.col("e").alias("at"),
            (F.unix_micros("e") + 1).alias("us"),
            F.lit(-1).alias("delta"),
        )
    )
    w = (
        Window.partitionBy("d")
        .orderBy("us", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = deltas.select(
        "d", "at", F.sum("delta").over(w).alias("live")
    )
    wd = Window.partitionBy("d")
    return (
        curve.withColumn("ml", F.max("live").over(wd))
        .groupBy(F.col("d").alias("day"))
        .agg(
            F.max("live").cast("bigint").alias("peak_concurrency"),
            F.min(
                F.when(F.col("live") == F.col("ml"), F.col("at"))
            ).alias("peak_at"),
        )
    )


# ----------------------------------------------- events_behavior_entropy
# Behavioral-diversity entropy: Shannon entropy of each user's
# event-type mix (bits), with the low-diversity-heavy-user flag — the
# second axis of bot detection (events_bot_detect reads cadence; this
# reads the ACTION MIX: scrapers fire one event type at volume, humans
# spread across the catalog). Scale shape: map-side partials collapse
# the fact to (user, type) in ONE exchange; the user fold reuses that
# partitioning (group key ⊆ partition key); entropy folds ≤ |types|
# exact-int ratios per user — identical doubles in both engines, 4dp
# rounded BEFORE the flag compares (round-before-gate).
_BE_MIN_EVENTS = 50
_BE_LOW_BITS = 2.2


@_q(
    "events_behavior_entropy",
    """
    WITH ut AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY user_id, event_type),
    probs AS (
      SELECT user_id, c,
             sum(c) OVER (PARTITION BY user_id) AS tot
      FROM ut),
    ent AS (
      SELECT user_id,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(count(*) AS INTEGER) AS n_types,
             round(-CAST(sum(CAST(round(
                     (c * 1.0 / tot) * ln(c * 1.0 / tot), 9)
                   AS DECIMAL(20,9))) AS DOUBLE) / ln(2), 4)
               AS entropy_bits
      FROM probs GROUP BY user_id)
    SELECT user_id, n_events, n_types, entropy_bits,
           n_events >= 50 AND entropy_bits < 2.2 AS low_diversity_heavy
    FROM ent
    """,
)
def events_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    ut = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("user_id")
    ut = ut.withColumn("tot", F.sum("c").over(w))
    # decimal-rounded terms: 5-term double sums are *probably* safe,
    # but group-fold order is engine-internal — order-free costs nothing
    ent = (
        ut.withColumn(
            "term",
            F.expr(
                "CAST(round((c * 1.0 / tot) * ln(c * 1.0 / tot), 9)"
                " AS DECIMAL(20,9))"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("int").alias("n_types"),
            F.round(
                -F.sum("term").cast("double") / F.log(F.lit(2.0)), 4
            ).alias("entropy_bits"),
        )
    )
    return ent.select(
        "user_id", "n_events", "n_types", "entropy_bits",
        (
            (F.col("n_events") >= _BE_MIN_EVENTS)
            & (F.col("entropy_bits") < _BE_LOW_BITS)
        ).alias("low_diversity_heavy"),
    )


# --------------------------------------------------- corpus_doc_length_gini
# Length-inequality monitor: the Gini coefficient of the doc-length
# distribution per source — the single-number inequality readout
# (events_value_pareto's decile table collapsed to its summary
# statistic) that flags a feed drifting toward stubs or monster pages.
# G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending lengths; ties carry
# identical lengths, so rank assignment among them cannot change Σ i·x
# (x·Σi is rank-set-invariant) — deterministic without a tie-break key.
#
# Scale shape: ONE exchange hash-partitions the corpus by source; the
# ranking window sorts each source's lengths independently (the
# per-stratum-sort contract of corpus_token_budget — at extreme
# per-source cardinality, shard to (source, length-bucket) with a
# two-level rank, same output). All sums are exact BIGINT; the Gini is
# one int-derived double expression, rounded 6dp.
@_q(
    "corpus_doc_length_gini",
    """
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS i
      FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(2.0 * sum(i * n_chars) / (count(*) * sum(n_chars))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM ranked GROUP BY source
    """,
)
def corpus_doc_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "source", "n_chars", F.row_number().over(w).alias("i")
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(
            2.0
            * F.sum(F.col("i") * F.col("n_chars"))
            / (F.count(F.lit(1)) * F.sum("n_chars"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


# -------------------------------------------------------- events_cusum_alert
# One-sided CUSUM drift detection (Page 1954) per event type: the
# upward cumulative sum S_t = max(0, S_{t-1} + (x_t − μ − k)) over
# daily means, with (μ, σ) measured on the FIRST-WEEK baseline and
# k = σ/2, alerting when S_t > 4σ — the change-point twin of
# events_ewma_chart (EWMA smooths levels; CUSUM accumulates small
# persistent shifts until they're undeniable). The recursion's clip at
# zero looks sequential, but it has the classic prefix closed form
# S_t = P_t − min_{j≤t} P_j over the UNCLIPPED prefix sums P — so two
# ordered windows compute the whole series declaratively.
#
# Engine parity: prefix sums accumulate as DECIMAL over round(term, 9)
# (the EWMA segment-tree lesson); the running min compares identical
# decimal-backed doubles; baseline moments are DECIMAL-exact. Scale
# shape: the fact collapses to the (type × day) grain in ONE exchange;
# the baseline is a 1-row-per-type broadcast; both windows run over the
# tiny grid.
_CUSUM_BASE_DAYS = 7


@_q(
    "events_cusum_alert",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS v
      FROM events GROUP BY event_type, d),
    d0 AS (SELECT min(d) AS start_d FROM daily),
    base AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(round(v, 9) AS DECIMAL(20,9))) AS DOUBLE) AS s1,
             CAST(sum(CAST(round(v * v, 9) AS DECIMAL(20,9))) AS DOUBLE)
               AS s2
      FROM daily CROSS JOIN d0
      WHERE d < start_d + {_CUSUM_BASE_DAYS}
      GROUP BY event_type),
    params AS (
      SELECT event_type, s1 / n AS mu,
             sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS sigma
      FROM base),
    pref AS (
      SELECT daily.event_type, d, v, mu, sigma,
             CAST(sum(CAST(round(v - mu - sigma / 2, 9)
                      AS DECIMAL(20,9)))
               OVER (PARTITION BY daily.event_type ORDER BY d)
               AS DOUBLE) AS p
      FROM daily JOIN params ON daily.event_type = params.event_type),
    cusum AS (
      SELECT event_type, d, v, sigma,
             p - least(min(p) OVER (PARTITION BY event_type ORDER BY d),
                       0.0) AS s
      FROM pref)
    SELECT event_type, d AS day,
           v AS day_mean,
           s + 0.0 AS cusum_stat,
           s > 4 * sigma AS drift_alert
    FROM cusum
    """,
)
def events_cusum_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        (
            F.expr(
                "CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE)"
            )
            / F.count(F.lit(1))
        ).alias("v")
    ).localCheckpoint(eager=False)
    d0 = daily.agg(F.min("d").alias("start_d"))
    base = (
        daily.crossJoin(F.broadcast(d0))
        .filter(F.col("d") < F.date_add("start_d", _CUSUM_BASE_DAYS))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.expr(
                "CAST(sum(CAST(round(v, 9) AS DECIMAL(20,9))) AS DOUBLE)"
            ).alias("s1"),
            F.expr(
                "CAST(sum(CAST(round(v * v, 9) AS DECIMAL(20,9)))"
                " AS DOUBLE)"
            ).alias("s2"),
        )
    )
    params = base.selectExpr(
        "event_type",
        "s1 / n AS mu",
        "sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS sigma",
    )
    pref = daily.join(F.broadcast(params), "event_type").withColumn(
        "p",
        F.expr(
            "CAST(sum(CAST(round(v - mu - sigma / 2, 9) AS DECIMAL(20,9)))"
            " OVER (PARTITION BY event_type ORDER BY d"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " AS DOUBLE)"
        ),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = pref.withColumn(
        "s", F.col("p") - F.least(F.min("p").over(w), F.lit(0.0))
    )
    # day_mean/cusum_stat ship UNROUNDED (the ewma_chart lesson: both
    # are bit-identical doubles, while round(x, 4) can split on a
    # .00005 half-way tie — the sf0.001 fixture has one at 38.37875);
    # +0.0 folds IEEE -0.0 on the clipped statistic.
    return cusum.select(
        "event_type",
        F.col("d").alias("day"),
        F.col("v").alias("day_mean"),
        (F.col("s") + 0.0).alias("cusum_stat"),
        (F.col("s") > 4 * F.col("sigma")).alias("drift_alert"),
    )


# ---------------------------------------------------- events_holt_level_step
# One Holt / double-exponential smoothing update over the daily grid —
# the forecasting twin of events_ewma_chart (level only) and
# events_cusum_alert (drift): per event_type, from the no-peek init
# (level₀ = y₀, trend₀ = 0), process day t=1:
#
#   level₁ = α·y₁ + (1-α)·(level₀ + trend₀)
#   trend₁ = β·(level₁ - level₀) + (1-β)·trend₀
#   forecast(t=2) = level₁ + trend₁,  one-step error = y₁ - (level₀+trend₀)
#
# (The textbook init trend₀ = y₁ - y₀ makes the first update collapse to
# level₁ = y₁ identically — a test that can't fail; the no-peek init
# keeps α and β live in the output.) ``holt_smooth`` below iterates this
# update across the whole grid with the state fed back by the driver —
# the emb_kmeans_step / bpe_train iterate-with-driver-feedback contract.
#
# Scale shape: ONE exchange folds the fact table to the daily grid with
# map-side partial aggregation (the EWMA lesson: day means accumulate as
# rounded DECIMALs so the sum is partitioning-order-proof); everything
# after runs at event_type grain (a handful of rows) — conditional
# aggregation picks y₀/y₁ without a second shuffle, and the update
# itself is pure codegen'd double arithmetic, written in one fixed
# expression order so both engines evaluate identical IEEE doubles.
_HOLT_ALPHA, _HOLT_BETA = 0.3, 0.2


@_q(
    "events_holt_level_step",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS v
      FROM events GROUP BY event_type, d),
    idx AS (
      SELECT event_type, d, v,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                  - 1 AS INTEGER) AS t
      FROM daily),
    grid AS (
      SELECT event_type,
             max(CASE WHEN t = 0 THEN v END) AS y0,
             max(CASE WHEN t = 1 THEN v END) AS y1,
             max(CASE WHEN t = 1 THEN d END) AS day
      FROM idx WHERE t <= 1 GROUP BY event_type),
    step AS (
      SELECT event_type, day, y0, y1,
             {_HOLT_ALPHA} * y1 + (1 - {_HOLT_ALPHA}) * y0 AS level,
             y1 - y0 AS one_step_err
      FROM grid)
    SELECT event_type, day, y1 AS day_mean, level,
           {_HOLT_BETA} * (level - y0) AS trend,
           level + {_HOLT_BETA} * (level - y0) AS forecast_next,
           one_step_err
    FROM step
    """,
)
def events_holt_level_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        (
            F.expr(
                "CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE)"
            )
            / F.count(F.lit(1))
        ).alias("v")
    )
    wt = Window.partitionBy("event_type").orderBy("d")
    idx = daily.withColumn("t", (F.row_number().over(wt) - 1).cast("int"))
    grid = (
        idx.filter(F.col("t") <= 1)
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("t") == 0, F.col("v"))).alias("y0"),
            F.max(F.when(F.col("t") == 1, F.col("v"))).alias("y1"),
            F.max(F.when(F.col("t") == 1, F.col("d"))).alias("day"),
        )
    )
    a, b = F.lit(_HOLT_ALPHA), F.lit(_HOLT_BETA)
    level = a * F.col("y1") + (F.lit(1) - a) * F.col("y0")
    step = grid.select(
        "event_type", "day", "y0",
        F.col("y1").alias("day_mean"),
        level.alias("level"),
        (F.col("y1") - F.col("y0")).alias("one_step_err"),
    )
    trend = b * (F.col("level") - F.col("y0"))
    return step.select(
        "event_type", "day", "day_mean", "level",
        trend.alias("trend"),
        (F.col("level") + trend).alias("forecast_next"),
        "one_step_err",
    )


def holt_smooth(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = _HOLT_ALPHA,
    beta: float = _HOLT_BETA,
) -> DataFrame:
    """Full Holt pass over the daily grid: iterate the
    ``events_holt_level_step`` update across every day with the state
    (level, trend) per event_type fed back by the driver each iteration
    — the emb_kmeans_step / bpe_train contract. Returns the final state
    plus the h=1 forecast per event_type.

    Per iteration the cluster does NOTHING (the grid was collected once
    — it is days × event_types, metadata-sized at any corpus scale; the
    100 TB fact table is touched exactly once, by the daily fold). The
    loop is therefore pure driver arithmetic over the collected grid —
    shipping each scalar update back to the cluster would serialize a
    Spark job per day for no data-parallel work. Pinned against a
    pure-Python reference in tests/test_round14_fixes.py.
    """
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(
            (
                F.expr(
                    "CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2)))"
                    " AS DOUBLE)"
                )
                / F.count(F.lit(1))
            ).alias("v")
        )
        .orderBy("event_type", "d")
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["d"], r["v"]))
    out = []
    for et, pts in sorted(series.items()):
        level, trend = pts[0][1], 0.0
        for _, y in pts[1:]:
            prev = level
            level = alpha * y + (1 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1 - beta) * trend
        out.append((et, pts[-1][0], level, trend, level + trend))
    return spark.createDataFrame(
        out,
        "event_type string, last_day date, level double, trend double,"
        " forecast_next double",
    )
