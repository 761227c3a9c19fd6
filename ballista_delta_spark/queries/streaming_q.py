"""Structured Streaming surface over the ``events`` table — an EXTENSION
beyond the reference (it has no streaming operators: its only entry points
are batch ``ctx.sql(...).show()/collect()``, reference README.md:57-64,
tests/local.rs:45-54; SURVEY.md §2.10 documents the absence). A real
training-data pipeline ingests events continuously, so the north-star
extension set (SURVEY.md §7 phase E) includes the canonical streaming
shapes: tumbling / sliding windowed aggregation and session windows.

These are REAL streaming executions, not batch lookalikes: each query
builds a ``spark.readStream`` file source over the events parquet, runs the
stream to completion with ``Trigger.AvailableNow`` into an in-memory sink,
and returns the sink table. On a cluster the same code tails a directory /
Kafka topic forever; AvailableNow is the standard backfill/test trigger.
Because the input is finite and processed exactly once, the results are
deterministic and oracle-able in DuckDB (window algebra mirrored below).

Scale notes:
- Windowed aggregation is Spark's incremental stateful operator: state is
  partitioned by (window, keys) in the state store, partial-aggregated
  map-side per micro-batch — the streaming analogue of a two-phase agg.
- ``withWatermark`` bounds state at production scale (late data beyond the
  delay is dropped and closed windows evicted). Declared on the tumbling
  query as the pattern; with complete/update output over a finite backfill
  it does not change results, which keeps the oracle exact.
- The memory sink is test plumbing only — production writes Delta/Kafka
  via ``writeStream.format(...)``.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._registry import make_registry

QUERIES: dict = {}
_q = make_registry(QUERIES)

_GAP = "30 minutes"

# The streaming file source needs an explicit schema, and events.ts has
# shipped in two physical forms across testdata generations (see
# _tables._load_events): TIMESTAMP(NANOS) — read as raw nanos via legacy
# long mode and truncated to µs — or plain µs TIMESTAMP (TIMESTAMP_NTZ to
# Spark). Probe the file's batch schema once per sf_dir to build the right
# stream schema; both normalize to TimestampType under the UTC session TZ.
def _raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


_TS_TYPES: dict[str, T.DataType] = {}


def _events_ts_type(spark: SparkSession, sf_dir: str) -> T.DataType:
    cached = _TS_TYPES.get(sf_dir)
    if cached is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        cached = (
            spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
            .schema["ts"]
            .dataType
        )
        _TS_TYPES[sf_dir] = cached
    return cached


# The file source monitors DIRECTORIES (on a cluster: the landing dir new
# files arrive in). The fixture is a single file, so stage a per-sf_dir
# directory holding a symlink to it — built once and cached.
_STREAM_DIRS: dict[str, str] = {}


def _events_dir(sf_dir: str) -> str:
    cached = _STREAM_DIRS.get(sf_dir)
    if cached and os.path.isdir(cached):
        return cached
    from .scans import _tmp

    d = _tmp("events-stream")
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        # Directory-table fixture (the tiled sf1 perf fixture): the
        # file-stream source lists the monitored directory but does NOT
        # recurse into a symlinked subdirectory — staging the dir as one
        # symlink silently yields a ZERO-file (and zero-row) stream.
        # Stage each leaf part file directly instead.
        # Sorted walk: part-NNNNN numbering (and so the stream's file
        # order) must not depend on directory listing order.
        n = 0
        for root, dirs, fnames in os.walk(src, followlinks=True):
            dirs.sort()
            for fn in sorted(fnames):
                if fn.endswith(".parquet"):
                    os.symlink(
                        os.path.join(root, fn),
                        os.path.join(d, f"part-{n:05d}.parquet"),
                    )
                    n += 1
        if n == 0:
            raise FileNotFoundError(f"no parquet files under {src}")
    else:
        os.symlink(src, os.path.join(d, "events.parquet"))
    _STREAM_DIRS[sf_dir] = d
    return d


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # see _tables.load
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = _events_ts_type(spark, sf_dir)
    raw = spark.readStream.schema(_raw_schema(ts_type)).parquet(
        _events_dir(sf_dir)
    )
    if isinstance(ts_type, T.LongType):
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    if isinstance(ts_type, T.TimestampNTZType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _await_completion(q, name: str, timeout: int = 300) -> None:
    """Block until the query terminates; raise instead of letting a timed-out
    or failed query hand back a silently-partial memory sink (which would
    surface only as an unexplained oracle hash mismatch)."""
    finished = q.awaitTermination(timeout)
    if not finished:
        exc = q.exception()
        q.stop()
        raise TimeoutError(
            f"streaming query {name} did not terminate within {timeout}s"
            + (f" (query exception: {exc})" if exc else "")
        )
    exc = q.exception()
    if exc is not None:
        # Defensive only: PySpark's awaitTermination already RAISES when
        # the query terminated with an error (so this is unreachable on
        # current versions); kept as a cheap guard against that contract
        # changing — a failed query must never hand back a silently
        # partial memory sink.
        raise exc


# Streaming state partitions: the state-store partition count is captured
# at the first checkpoint and should be sized to KEY CARDINALITY and
# throughput, not inherited from the batch shuffle width — every state
# partition costs a store instance plus (for applyInPandasWithState) a
# Python worker per microbatch. 8 fits the 150-user fixture with headroom;
# a production deployment sets this per-stream to its own key scale.
_STREAM_STATE_PARTITIONS = 8


def _run_stream(df: DataFrame, output_mode: str) -> DataFrame:
    """Run the streaming frame to completion (AvailableNow) into a memory
    sink and return the sink table."""
    name = f"bds_stream_{uuid.uuid4().hex[:12]}"
    spark = df.sparkSession
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(_STREAM_STATE_PARTITIONS)
    )
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        _await_completion(q, name)
    finally:
        # The stream captured the width at start(); batch queries get the
        # session's original value back.
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    # Materialize, then drop the sink registration: memory-sink rows live
    # on the DRIVER for as long as the table stays registered, so a bench
    # loop re-running stream ids would otherwise grow driver memory
    # monotonically. localCheckpoint pins the (small, final) result in
    # executor storage, reclaimed by the ContextCleaner with the frame.
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


# ----------------------------------------------------- stream_tumbling_agg
# 1-day tumbling windows per event_type. Spark aligns window starts to the
# epoch, so a 1-day tumble == date_trunc('day') in the oracle.
@_q(
    "stream_tumbling_agg",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    out = _run_stream(agg, "complete")
    return out.select(
        F.col("window.start").alias("win_start"), "event_type", "n", "total_value"
    )


# ------------------------------------------------------ stream_sliding_agg
# 2-day windows sliding by 1 day: every event lands in exactly two windows,
# starting at date_trunc('day', ts) and one day earlier (epoch-aligned).
@_q(
    "stream_sliding_agg",
    """
    SELECT win_start,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(value), 4) AS mean_value
    FROM (
      SELECT unnest([date_trunc('day', ts) - INTERVAL 1 DAY,
                     date_trunc('day', ts)]) AS win_start,
             value
      FROM events)
    GROUP BY win_start
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "2 days", "1 day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("mean_value"),
    )
    out = _run_stream(agg, "complete")
    return out.select(F.col("window.start").alias("win_start"), "n", "mean_value")


# --------------------------------------------------- stream_session_window
# Gap-based sessionization per user (30-minute inactivity gap) — the
# custom-stateful-operator shape. Spark merges an event into the session
# when ts < previous_end (= prev ts + gap), i.e. a NEW session starts when
# the gap is >= 30 minutes; session end = last ts + gap. Session windows
# only support APPEND output: a session is emitted once the watermark
# (max event time - 1h) passes its end — exactly the state-eviction
# behavior that bounds memory at scale. The oracle mirrors both the
# session algebra (lag() + cumulative session counter) and the watermark
# cutoff, so the comparison is exact on the finite backfill.
@_q(
    "stream_session_window",
    f"""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '{_GAP}'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sessions AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked),
    agg AS (
      SELECT user_id,
             min(ts) AS session_start,
             max(ts) + INTERVAL '{_GAP}' AS session_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sessions
      GROUP BY user_id, sid)
    SELECT user_id, session_start, session_end, n_events
    FROM agg
    WHERE session_end <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", _GAP), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_stream(agg, "append")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


# ---------------------------------------------- stream_stateful_user_stats
# Custom stateful operator via applyInPandasWithState: per-user running
# (count, sum) kept in the state store, rows arriving as Arrow-batched
# pandas frames per key. This is the escape hatch for stateful logic the
# built-in windows can't express (sessionizers with custom merge rules,
# CUSUM detectors, per-entity model state); here the state logic is kept
# deliberately oracle-able — on the finite single-batch backfill the final
# emitted state per user equals a plain grouped aggregate.
def _user_state_fn(key, pdf_iter, state):
    import pandas as pd

    (user_id,) = key
    n, s = state.get() if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [round(s, 4)]}
    )


@_q(
    "stream_stateful_user_stats",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _events_stream(spark, sf_dir).select("user_id", "value")
    out = ev.groupBy("user_id").applyInPandasWithState(
        _user_state_fn,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _run_stream(out, "update")
    # Update-mode memory sinks APPEND each batch's emissions; the fixture
    # stages one file (one batch), but if the source ever micro-batches,
    # each user must still surface ONCE — n_events is monotone per user,
    # so the max struct keeps exactly the final emission.
    last = F.max(F.struct("n_events", "total_value")).alias("m")
    return (
        sink.groupBy("user_id").agg(last)
        .select("user_id", "m.n_events", "m.total_value")
    )


# --------------------------------------------------------- stream_dedup
# Streaming deduplication — the ingest-side half of the dedup pipeline
# (queries/dedup.py is the batch half): drop repeat (user_id, event_type)
# observations as they arrive. State = one entry per distinct key in the
# state store; production bounds it with dropDuplicatesWithinWatermark
# (same call + a watermark), which evicts keys once the watermark passes —
# unbounded-history dedup at 100 TB needs the batch MinHash path instead.
# Projecting to the dedup keys FIRST keeps the result deterministic (any
# kept occurrence is identical), which is what makes the oracle exact.
@_q(
    "stream_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).select("user_id", "event_type")
    return _run_stream(ev.dropDuplicates(["user_id", "event_type"]), "append")


# --------------------------------------------- stream_dedup_watermarked
# The production form of stream_dedup: dropDuplicatesWithinWatermark
# bounds the state store — a key's entry is EVICTED once the watermark
# passes its event time, so state is O(keys per watermark window), not
# O(keys ever seen). The price is the matching relaxation of semantics: a
# key may be re-emitted after eviction. The fixture is one parquet file =
# one AvailableNow micro-batch, so no eviction happens mid-run and the
# result is exactly DISTINCT — which keeps the oracle precise while the
# plan (pinned in tests/test_scale_plans.py) proves the bounded-state
# operator is the one running.
@_q(
    "stream_dedup_watermarked",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _events_stream(spark, sf_dir)
        .select("ts", "user_id", "event_type")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_stream(ev, "append")


# --------------------------------------------------- stream_stream_join
# Stream-stream interval join — view→click attribution: for each view,
# clicks by the same user within the next 30 minutes. Both sides are
# watermarked and the join predicate carries the event-time bound, which is
# what lets Spark EVICT buffered view-side state once the click-side
# watermark passes ts + 30min — the state-bounding contract that makes
# stream-stream joins viable at scale (an unbounded-time join would buffer
# both streams forever). Inner joins emit exactly the matched pairs, so the
# finite backfill is oracle-exact as a batch self-join.
@_q(
    "stream_stream_join",
    """
    SELECT a.user_id AS user_id,
           a.event_id AS view_id,
           b.event_id AS click_id,
           a.ts AS view_ts,
           b.ts AS click_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'click'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both sides derive from ONE stream definition (streaming self-join):
    # a single file-source tracks progress once, and on a cluster the same
    # shape joins two filters of one Kafka topic without double-reading it.
    ev = _events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND "
            "click_ts >= view_ts AND "
            "click_ts <= view_ts + interval 30 minutes"
        ),
    )
    out = _run_stream(joined, "append")
    return out.select(
        F.col("v_user").alias("user_id"),
        "view_id", "click_id", "view_ts", "click_ts",
    )


# --------------------------------------------------- stream_delta_source
# readStream FROM A DELTA TABLE — the incremental-ingest entry point
# (delta-spark's streaming source), implemented as a Spark 4 Python Data
# Source tailing the transaction log: offsets are log versions, each
# micro-batch is one-or-more commits' appended files (O(churn)), replay
# between offsets is exact, and non-append commits raise unless
# ignoreChanges is set (sources/delta_stream.py).
@_q(
    "stream_delta_source",
    """
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    UNION ALL
    SELECT n_nationkey + 100 AS n_nationkey,
           'NEW_' || n_name AS n_name, n_regionkey
    FROM nation WHERE n_regionkey = 2
    """,
)
def stream_delta_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta import write_delta
    from ..sources.delta_stream import register_delta_stream_source
    from ._tables import load
    from .scans import _clone, _nation_delta

    register_delta_stream_source(spark)
    path = _clone(_nation_delta(spark, sf_dir), "sds")
    nat = load(spark, sf_dir, "nation")
    write_delta(
        nat.filter("n_regionkey = 2").select(
            (F.col("n_nationkey") + 100).alias("n_nationkey"),
            F.concat(F.lit("NEW_"), F.col("n_name")).alias("n_name"),
            "n_regionkey",
            *[c for c in nat.columns if c not in
              ("n_nationkey", "n_name", "n_regionkey")],
        ).select(*nat.columns),
        path, mode="append",
    )
    stream = (
        spark.readStream.format("delta_stream").option("path", path).load()
    )
    out = _run_stream(
        stream.select("n_nationkey", "n_name", "n_regionkey"), "append"
    )
    return out


# --------------------------------------------- stream_delta_cdf_source
# Streaming CHANGE DATA FEED — readStream with readChangeFeed=true
# (delta-spark's streaming CDF): each micro-batch emits the row-level
# changes of one-or-more commits (insert / update_preimage /
# update_postimage / delete + _commit_version), sourced from the cdc
# files CDF-enabled DML writes under _change_data/. This is the
# incremental-materialized-view primitive: downstream jobs apply deltas
# instead of re-reading the table — O(churn) per batch, not O(table).
# The oracle reconstructs the exact change history: v0 all rows insert,
# v2 pre/post images of the UPDATE, v3 delete rows reflecting the
# post-update state.
@_q(
    "stream_delta_cdf_source",
    """
    SELECT n_nationkey, n_name, n_regionkey,
           'insert' AS _change_type,
           CAST(0 AS BIGINT) AS _commit_version
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey, 'update_preimage',
           CAST(2 AS BIGINT)
    FROM nation WHERE n_regionkey = 2
    UNION ALL
    SELECT n_nationkey, n_name || '_X', n_regionkey, 'update_postimage',
           CAST(2 AS BIGINT)
    FROM nation WHERE n_regionkey = 2
    UNION ALL
    SELECT n_nationkey,
           CASE WHEN n_regionkey = 2 THEN n_name || '_X' ELSE n_name END,
           n_regionkey, 'delete', CAST(3 AS BIGINT)
    FROM nation WHERE n_nationkey >= 20
    """,
)
def stream_delta_cdf_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta import alter_properties
    from ..sources.delta_dml import delete_delta, update_delta
    from ..sources.delta_stream import register_delta_stream_source
    from .scans import _clone, _nation_delta

    register_delta_stream_source(spark)
    path = _clone(_nation_delta(spark, sf_dir), "scdf")
    alter_properties(
        spark, path, {"delta.enableChangeDataFeed": "true"}
    )                                                                # v1
    update_delta(
        spark, path, "n_regionkey = 2",
        {"n_name": "concat(n_name, '_X')"},
    )                                                                # v2
    delete_delta(spark, path, "n_nationkey >= 20")                   # v3
    # startingVersion=0 pins FULL-history replay: the source's default
    # (delta-spark parity) is initial-snapshot-then-tail, which would
    # serve only the current rows as inserts at the snapshot version.
    stream = (
        spark.readStream.format("delta_stream")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
    )
    return _run_stream(
        stream.select(
            "n_nationkey", "n_name", "n_regionkey",
            "_change_type", "_commit_version",
        ),
        "append",
    )


# ------------------------------------------------- stream_upsert_delta
# The canonical production sink pattern: readStream -> foreachBatch ->
# MERGE INTO a Delta rollup table (streaming upsert / "silver table"
# maintenance). The events fixture is staged as FOUR files and consumed
# with maxFilesPerTrigger=1, so AvailableNow really executes multiple
# micro-batches and the MERGE's matched-accumulate path (t.n + s.n) is
# genuinely exercised across batches — not a single-batch lookalike.
#
# Exactness across batch boundaries: value totals accumulate in
# DECIMAL(28,6) (associative, order-independent), then round once at the
# end — a double sum would be micro-batch-order dependent and could
# hash-mismatch the oracle.
#
# Scale notes: each micro-batch aggregates map-side BEFORE the merge (the
# merge's source is per-user rows, not raw events), so the per-batch merge
# cost is O(distinct users in batch); the Delta merge only rewrites files
# containing matched users. State lives in the TABLE, not the stream —
# restarts resume from the checkpoint + committed table, delta-spark's
# standard exactly-once upsert recipe.
@_q(
    "stream_upsert_delta",
    """
    SELECT user_id,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(28, 6))), 4) AS DOUBLE) AS total_value,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def stream_upsert_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta import read_delta, write_delta
    from ..sources.delta_dml import merge_delta
    from ._tables import load

    # Stage events as 4 range-disjoint files (cached per sf_dir).
    from .scans import _artifact

    chunks = _artifact(
        sf_dir, "events-4chunks",
        lambda p: load(spark, sf_dir, "events")
        .repartitionByRange(4, "event_id")
        .write.parquet(p),
    )

    from .scans import _tmp

    tbl = os.path.join(_tmp("upsert"), "user_rollup")
    target_schema = (
        "user_id bigint, n_events bigint, "
        "total_value decimal(28,6), last_ts timestamp"
    )
    write_delta(
        spark.createDataFrame([], target_schema), tbl, mode="overwrite"
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The chunk artifact is written from load()'s NORMALIZED frame (ts is
    # us TIMESTAMP whatever form the source fixture used), so the stream
    # reads it with that schema directly — re-probing the ORIGINAL
    # events.parquet's physical type here silently corrupted ts on
    # nanos-form fixtures (INT64 micros read as longs, then a spurious
    # div 1000 landed every timestamp in 1970).
    raw = (
        spark.readStream.schema(load(spark, sf_dir, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(chunks)
    )

    def upsert(batch: DataFrame, _batch_id: int) -> None:
        agg = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast(
                "decimal(28,6)"
            ).alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
        merge_delta(
            spark, tbl, agg,
            on="t.user_id = s.user_id",
            matched_update={
                "n_events": "t.n_events + s.n_events",
                "total_value": "CAST(t.total_value + s.total_value "
                               "AS DECIMAL(28,6))",
                "last_ts": "greatest(t.last_ts, s.last_ts)",
            },
            not_matched_insert=True,
        )

    ckpt = _tmp("upsert-ckpt")
    q = (
        raw.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_completion(q, "stream_upsert_delta")

    return read_delta(spark, tbl).select(
        "user_id", "n_events",
        F.round("total_value", 4).cast("double").alias("total_value"),
        "last_ts",
    )


# ---------------------------------------------- stream_delta_snapshot
# The DEFAULT stream start (r9, delta-spark parity): with no
# startingVersion the source serves the table's CURRENT snapshot as the
# first batch(es), then tails the log — the only default that works on a
# table with DML history or a checkpointed+VACUUMed log, where
# replay-from-0 would hit the non-append guard or reaped commits. Here
# the table carries a DELETE commit; the stream starts AFTER it and must
# emit exactly the live rows (the oracle is the post-delete state), with
# no append-only violation.
@_q(
    "stream_delta_snapshot",
    """
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    WHERE n_nationkey % 5 != 0
    """,
)
def stream_delta_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta_dml import delete_delta
    from ..sources.delta_stream import register_delta_stream_source
    from .scans import _clone, _nation_delta

    register_delta_stream_source(spark)
    path = _clone(_nation_delta(spark, sf_dir), "ssnap")
    delete_delta(spark, path, "n_nationkey % 5 = 0")  # v1: NOT append-only
    stream = (
        spark.readStream.format("delta_stream").option("path", path).load()
    )
    return _run_stream(
        stream.select("n_nationkey", "n_name", "n_regionkey"), "append"
    )


# --------------------------------------------------- stream_static_enrich
# Stream-static enrichment join — the remaining canonical streaming join
# shape (stream_stream_join covers stream×stream): the event stream is
# enriched against a STATIC dimension (customer → market segment) and
# aggregated per (day, segment). In Structured Streaming a stream-static
# inner join is STATELESS — each micro-batch probes the static side
# (broadcast here; at 100 TB a co-partitioned or bucketed dim works the
# same way), so no join state accumulates and the only stateful operator
# is the windowed aggregate. This is the silver-table enrichment pattern
# every event pipeline runs before feature extraction.
@_q(
    "stream_static_enrich",
    """
    SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS win_start,
           c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(CAST(sum(CAST(round(e.value, 2) AS DECIMAL(18,2)))
                           AS DOUBLE), 2) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._tables import load

    ev = _events_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ev.join(F.broadcast(cust), "user_id")
    agg = (
        enriched.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("sum(CAST(round(value, 2) AS DECIMAL(18,2)))").alias(
                "tv"
            ),
        )
    )
    out = _run_stream(agg, "complete")
    return out.select(
        F.col("window.start").alias("win_start"),
        F.col("c_mktsegment").alias("segment"),
        "n",
        F.round(F.col("tv").cast("double"), 2).cast("double").alias(
            "total_value"
        ),
    )


# ------------------------------------------------ stream_cdf_rate_limit
# Rate-limited streaming CDF drain, end-to-end (round 12; VERDICT r11
# directive #8): readStream over the change feed with maxBytesPerTrigger
# so each micro-batch admits files only while under the byte budget, the
# sink an idempotent Delta append (txnAppId/txnVersion ledger). Under
# trigger(availableNow=True) Spark snapshots latestOffset() once per run,
# so a rate-limited query takes ONE clamped batch per run (documented in
# sources/delta_stream.py); draining a backlog therefore means repeated
# runs from the SAME checkpoint — exactly what a scheduler restarting the
# job does. The result is the full change history assembled across many
# clamped batches, exactly-once: a duplicated or dropped batch would
# hash-mismatch the oracle. At 100 TB this admission control is what
# keeps a catch-up from a week-old checkpoint from materializing the
# whole backlog in one micro-batch.
@_q(
    "stream_cdf_rate_limit",
    """
    SELECT n_nationkey, n_name, n_regionkey,
           'insert' AS _change_type,
           CAST(0 AS BIGINT) AS _commit_version
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey, 'update_preimage',
           CAST(2 AS BIGINT)
    FROM nation WHERE n_regionkey = 2
    UNION ALL
    SELECT n_nationkey, n_name || '_X', n_regionkey, 'update_postimage',
           CAST(2 AS BIGINT)
    FROM nation WHERE n_regionkey = 2
    UNION ALL
    SELECT n_nationkey,
           CASE WHEN n_regionkey = 2 THEN n_name || '_X' ELSE n_name END,
           n_regionkey, 'delete', CAST(3 AS BIGINT)
    FROM nation WHERE n_nationkey >= 20
    """,
)
def stream_cdf_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.delta import alter_properties, read_delta
    from ..sources.delta_dml import delete_delta, update_delta
    from ..sources.delta_stream import (
        register_delta_stream_source,
        write_stream_to_delta,
    )
    from .scans import _clone, _nation_delta, _tmp

    register_delta_stream_source(spark)
    path = _clone(_nation_delta(spark, sf_dir), "scdfrl")
    alter_properties(
        spark, path, {"delta.enableChangeDataFeed": "true"}
    )                                                                # v1
    update_delta(
        spark, path, "n_regionkey = 2",
        {"n_name": "concat(n_name, '_X')"},
    )                                                                # v2
    delete_delta(spark, path, "n_nationkey >= 20")                   # v3
    base = _tmp("scdfrl-sink")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    cols = [
        "n_nationkey", "n_name", "n_regionkey",
        "_change_type", "_commit_version",
    ]

    def run_once() -> None:
        stream = (
            spark.readStream.format("delta_stream")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingVersion", "0")
            # 1-byte budget: every batch admits exactly one file, so the
            # drain genuinely spans multiple clamped runs
            .option("maxBytesPerTrigger", "1")
            .load()
            .select(*cols)
        )
        _await_completion(
            write_stream_to_delta(stream, sink, ckpt, available_now=True),
            "stream_cdf_rate_limit", timeout=180,
        )

    # Drain: stop after TWO consecutive runs add nothing. One stall is
    # not enough — a clamped batch can cover a fileless commit (the v1
    # property change) and legitimately add zero rows mid-drain; two in
    # a row can only mean the source is exhausted.
    prev, stalls = -1, 0
    for _ in range(24):
        run_once()
        n = read_delta(spark, sink).count()
        stalls = stalls + 1 if n == prev else 0
        prev = n
        if stalls >= 2:
            break
    else:
        raise AssertionError(
            "rate-limited CDF stream failed to drain in 24 runs"
        )
    return read_delta(spark, sink).select(*cols).localCheckpoint(eager=True)
