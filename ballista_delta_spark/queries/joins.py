"""Join surface — SURVEY.md §2.3 ids J1-J9.

Reference parity: DataFusion physical joins (hash / sort-merge / nested-loop /
cross, ``datafusion-physical-plan``, Cargo.lock:2356), enabled by reference
src/lib.rs:36. Catalyst covers the same matrix and adds AQE runtime selection.

Scale notes (the part that matters at 100 TB):
- Fact⋈fact equi joins (J1) shuffle both sides on the key — unavoidable, but
  AQE coalesces partitions and splits skew.
- Fact⋈dim joins broadcast the dim side (J9 pins it with an explicit hint;
  Catalyst auto-broadcasts under the threshold elsewhere). A broadcast join
  on a 100 TB fact table is a map-side join: zero shuffle of the big side.
- Non-equi joins (J8) are nested-loop; they are only sane when one side is
  tiny — both queries here keep the build side ≤ a few thousand rows, which
  is exactly the regime BroadcastNestedLoopJoin is for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._registry import make_registry
from ._tables import load, spread_width

QUERIES: dict = {}
_q = make_registry(QUERIES)


# --- J1 join_inner: fact⋈fact equi join + aggregate (revenue per status).
@_q(
    "join_inner",
    """
    SELECT o_orderstatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 150000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_orderstatus")
    )


# --- J2 join_left: preserved-side nulls (customers with no qualifying order).
@_q(
    "join_left",
    """
    SELECT c_custkey,
           count(o_orderkey) AS n_big_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS big_total
    FROM customer
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) big
      ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_big_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("big_total"),
        )
    )


# --- J3 join_right
@_q(
    "join_right",
    """
    SELECT c_custkey, c_name, o_orderkey
    FROM (SELECT * FROM orders WHERE o_totalprice > 450000) big
    RIGHT JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal > 9990
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return (
        big.join(c, big.o_custkey == c.c_custkey, "right")
        .filter(F.col("c_acctbal") > 9990)
        .select("c_custkey", "c_name", "o_orderkey")
    )


# --- J4 join_full: both-side nulls via disjoint key ranges.
@_q(
    "join_full",
    """
    SELECT cc.nationkey AS c_nation, sc.nationkey AS s_nation,
           cc.n_cust, sc.n_supp
    FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
          FROM customer WHERE c_nationkey < 15 GROUP BY c_nationkey) cc
    FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
               FROM supplier WHERE s_nationkey >= 10 GROUP BY s_nationkey) sc
      ON cc.nationkey = sc.nationkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    cc = (
        c.filter("c_nationkey < 15")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    sc = (
        s.filter("s_nationkey >= 10")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cc.join(sc, cc.nationkey == sc.nationkey, "full").select(
        cc.nationkey.alias("c_nation"),
        sc.nationkey.alias("s_nation"),
        "n_cust",
        "n_supp",
    )


# --- J5 join_semi: EXISTS → left_semi (no row multiplication).
@_q(
    "join_semi",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select("c_custkey", "c_name")


# --- J6 join_anti: NOT EXISTS → left_anti. (NOT IN would flip semantics if
# the subquery produced nulls — keys here are non-null, and NOT EXISTS is the
# null-safe form; SURVEY.md §7 Phase B calls this edge out.)
@_q(
    "join_anti",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_anti").select("c_custkey", "c_name")


# --- J7 join_cross: CROSS JOIN of two small dims (125 pairs).
@_q(
    "join_cross",
    """
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


# --- J8 join_theta: pure non-equi predicate → BroadcastNestedLoopJoin.
# Build side (region, 5 rows) broadcasts; never do this with two big sides.
@_q(
    "join_theta",
    """
    SELECT n_name, count(*) AS n_regions_above
    FROM nation JOIN region ON n_regionkey < r_regionkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        n.join(r, n.n_regionkey < r.r_regionkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_regions_above"))
        .orderBy("n_name")
    )


# --- J9 join_broadcast_hint: explicit broadcast of the dim side — the 100 TB
# pattern (map-side join; the lineitem side never shuffles).
@_q(
    "join_broadcast_hint",
    """
    SELECT p_brand,
           round(sum(l_extendedprice), 2) AS brand_revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 10
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def join_broadcast_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "inner")
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("brand_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("p_brand")
    )


# --- J10 join_asof: as-of (most-recent-prior) join — the canonical
# time-series enrichment op (no reference analogue; DataFusion gained no
# ASOF either — extension per the round brief). For every click, the
# latest view by the same user at-or-before the click.
#
# Scale shape: NOT a per-key nested loop and NOT a range theta join — the
# union + carry-forward-window form shuffles each side ONCE on user_id and
# resolves every match in a single ordered pass per partition:
# O(n log n / partitions). Ties: a view at the exact click ts qualifies
# (sorts before the click via the type flag); equal-ts views dedupe to the
# max event_id on both sides so the oracle's ASOF is deterministic.
@_q(
    "join_asof",
    """
    WITH v AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'view'
      QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                 ORDER BY event_id DESC) = 1),
    c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
           v.event_id AS view_id, v.ts AS view_ts, v.value AS view_value
    FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    dedup_w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    views = (
        e.filter(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "ts", "event_id", "value", F.lit(0).alias("is_click")
        )
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("is_click"),
    )
    both = views.unionByName(clicks)
    # Carry the latest view struct forward within each user's timeline.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last(
        F.when(
            F.col("is_click") == 0,
            F.struct(
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"),
                F.col("value").alias("view_value"),
            ),
        ),
        ignorenulls=True,
    ).over(w)
    return (
        both.withColumn("v", carried)
        .filter(F.col("is_click") == 1)
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("v.view_id").alias("view_id"),
            F.col("v.view_ts").alias("view_ts"),
            F.col("v.view_value").alias("view_value"),
        )
    )


# --- J11 join_range_banded: interval/range join via BANDING — clicks within
# 2 hours after an error by the same user. The naive form is a theta join
# (nested loop, O(n*m) per user); banding rounds both sides to fixed
# 2-hour buckets, explodes each error to its (at most 2) covered buckets,
# and equi-joins on (user_id, bucket) — the exact range predicate then
# filters within buckets only. Band width == window length guarantees the
# 2-bucket cover; the 2x left-side explode is the standard banding cost,
# and the join parallelism is #(user, bucket), not #users.
_BAND_SEC = 7200


@_q(
    "join_range_banded",
    """
    WITH err AS (SELECT event_id AS err_id, user_id, ts FROM events
                 WHERE event_type = 'error'),
    clk AS (SELECT event_id AS click_id, user_id, ts FROM events
            WHERE event_type = 'click')
    SELECT err.err_id, clk.click_id
    FROM err JOIN clk ON err.user_id = clk.user_id
     AND clk.ts >= err.ts AND clk.ts < err.ts + INTERVAL 2 HOUR
    """,
)
def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("ts") / _BAND_SEC)
    err = (
        e.filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("err_id"), "user_id", "ts")
        .withColumn("b0", bucket)
        .withColumn("bucket", F.explode(F.array(F.col("b0"), F.col("b0") + 1)))
        .drop("b0")
    )
    clk = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("cts"),
        F.floor(F.unix_timestamp("ts") / _BAND_SEC).alias("bucket"),
    )
    return (
        err.join(clk, ["user_id", "bucket"])
        .filter(
            (F.col("cts") >= F.col("ts"))
            & (F.col("cts") < F.col("ts") + F.expr("INTERVAL 2 HOURS"))
        )
        .select("err_id", "click_id")
    )


# --- join_null_safe: null-safe equality join (`<=>` / IS NOT DISTINCT
# FROM) — NULL keys MATCH each other instead of vanishing, the semantics
# dedup/entity-resolution pipelines need when "unknown" is a joinable
# bucket. Still a plain hash-partitioned equi-join (NULL hashes like any
# value under <=>), not a filter-after-cross.
@_q(
    "join_null_safe",
    """
    WITH a AS (
      SELECT n_nationkey, n_name,
             CASE WHEN n_regionkey = 2 THEN NULL ELSE n_regionkey END AS k
      FROM nation),
    b AS (
      SELECT r_name,
             CASE WHEN r_regionkey = 2 THEN NULL ELSE r_regionkey END AS k
      FROM region)
    SELECT a.n_nationkey, a.n_name, b.r_name
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name",
        F.when(F.col("n_regionkey") == 2, F.lit(None))
        .otherwise(F.col("n_regionkey")).alias("k"),
    )
    reg = load(spark, sf_dir, "region").select(
        "r_name",
        F.when(F.col("r_regionkey") == 2, F.lit(None))
        .otherwise(F.col("r_regionkey")).alias("k"),
    )
    return nat.join(reg, nat["k"].eqNullSafe(reg["k"])).select(
        "n_nationkey", "n_name", "r_name"
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``on`` with the LEFT side's hot keys spread over
    ``n_salts`` shuffle partitions.

    When to use: the left side has a few keys carrying a large share of
    the rows AND the right side is too big to broadcast. A plain shuffle
    join sends every hot-key row to one task; salting appends a
    per-row salt to the left key and replicates each right row across all
    ``n_salts`` salt values, so a hot key's rows land on ``n_salts`` tasks
    instead of one. Cost: the right side is materialized ``n_salts``
    times in the shuffle — size n_salts to the skew factor, not higher.

    Prefer AQE's skew-join split (`spark.sql.adaptive.skewJoin.enabled`,
    on by default in this engine's sessions) when it applies — it reads
    runtime sizes and splits only the partitions that are actually skewed.
    Salting is the static fallback for the cases AQE can't rebalance
    (e.g. the skew appears AFTER a stage boundary AQE has already
    committed, or deterministic layout is required).

    The salt is random-uniform per left row; correctness doesn't depend
    on WHICH salt a row gets, only that the (key, salt) join covers every
    pair — the right-side explode guarantees that. Supports ``inner`` and
    ``left`` joins (right/full would need the salt on the other side).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner|left, got {how!r}")
    salted_l = left.withColumn(
        "__salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    salted_r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return (
        salted_l.join(salted_r, [on, "__salt"], how)
        .drop("__salt")
    )


# --- join_salted: explicit skew-salted shuffle join (salted_join above)
# registered as a driver-verified query: the salted plan must return
# EXACTLY the plain join's relation (oracle = plain join + aggregate),
# while shuffling on (key, salt) so a hot customer's rows spread over
# n_salts tasks instead of one. The broadcast threshold is disabled for
# the build so the helper's shuffle path actually runs; the plan pin
# lives in tests/test_scale_plans.py.
@_q(
    "join_salted",
    """
    SELECT c_name,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_name
    HAVING count(*) >= 10
    ORDER BY c_name
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = salted_join(orders, cust, "o_custkey", n_salts=8)
        return (
            joined.groupBy("c_name")
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .filter(F.col("n_orders") >= 10)
            .orderBy("c_name")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# --- join_bucketed: the co-located bucketed join — Spark's answer to the
# "same join key, every night" workload. Both sides are written ONCE as
# bucketed tables (bucketBy the join key + sortBy inside each bucket);
# every subsequent join on that key then runs with ZERO exchanges: task
# i merge-joins bucket i of each side in place. At 100 TB this converts
# the nightly fact-fact shuffle (the single most expensive stage in the
# pipeline) into a scan — the shuffle cost is paid once at write time
# and amortized over every downstream join. The oracle is the plain
# parquet join (bucketing must not change the relation); the
# zero-exchange plan is pinned in tests/test_scale_plans.py.
@_q(
    "join_bucketed",
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                          CAST(1 - l_discount AS DECIMAL(8,2))), 2)
                AS DOUBLE) AS revenue
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    n_buckets = 8
    base = tempfile.mkdtemp(prefix="bds-bkt-")
    names = {}
    for tbl, key, cols in (
        ("orders", "o_orderkey", ["o_orderkey", "o_orderstatus"]),
        (
            "lineitem",
            "l_orderkey",
            ["l_orderkey", "l_extendedprice", "l_discount"],
        ),
    ):
        # pid-scoped name: the in-memory catalog is session-local, but a
        # stable name would still collide across two queries() calls in
        # one session — DROP + overwrite handles that.
        name = f"bds_bkt_{tbl}_{os.getpid()}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            load(spark, sf_dir, tbl)
            .select(*cols)
            # one writer task -> one file per bucket, so the bucket-side
            # sort is elided at read time too (no per-bucket merge).
            .coalesce(1)
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", os.path.join(base, tbl))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
        names[tbl] = name

    o = spark.table(names["orders"])
    l = spark.table(names["lineitem"])
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    )
    # Disable broadcast: the point is the exchange-free merge join of
    # co-bucketed scans (a broadcast would hide whether bucketing works).
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_lines"),
                F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            )
            .orderBy("o_orderstatus")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# --- J13 join_asof_forward: the FORWARD as-of direction — for every
# click, the EARLIEST view by the same user at-or-after the click
# ("time to next impression", the attribution/lookahead twin of J10's
# most-recent-prior). Same zero-join scale shape as join_asof: union +
# first-following window resolves every match in one ordered pass per
# user partition — never a per-key nested loop or range theta join.
# Ties: a view at the exact click ts qualifies (sorts after the click
# via the type flag); equal-ts views dedupe to the max event_id so the
# oracle's ASOF pick is deterministic.
@_q(
    "join_asof_forward",
    """
    WITH v AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'view'
      QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                 ORDER BY event_id DESC) = 1),
    c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
           v.event_id AS next_view_id, v.ts AS next_view_ts,
           v.value AS next_view_value
    FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts >= c.ts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    dedup_w = Window.partitionBy("user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "ts", "event_id", "value", F.lit(0).alias("is_click")
        )
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id",
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("is_click"),
    )
    both = views.unionByName(clicks)
    # clicks sort BEFORE same-ts views (is_click DESC) so the inclusive
    # forward frame sees the same-instant view
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.col("is_click").desc(), "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nxt = F.first(
        F.when(
            F.col("is_click") == 0,
            F.struct(
                F.col("event_id").alias("next_view_id"),
                F.col("ts").alias("next_view_ts"),
                F.col("value").alias("next_view_value"),
            ),
        ),
        ignorenulls=True,
    ).over(w)
    return (
        both.withColumn("v", nxt)
        .filter(F.col("is_click") == 1)
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("v.next_view_id").alias("next_view_id"),
            F.col("v.next_view_ts").alias("next_view_ts"),
            F.col("v.next_view_value").alias("next_view_value"),
        )
    )


# --- J14 join_interval_overlap: INTERVAL x INTERVAL overlap join — both
# sides are time spans (per-user daily activity windows), and the result
# is concurrent-activity pairs ("which users were active at the same
# time for >= 30 min"). Spark has no native interval join; the naive
# form is a per-day nested loop. The banding upgrade of J11 for the
# two-interval case: each span explodes to the hour buckets it covers,
# pairs equi-join on the bucket, and the DEDUP-FREE trick keeps a pair
# only in the single bucket containing the overlap's start — every
# overlapping pair matches exactly once, so no distinct-pairs shuffle is
# ever needed. Join parallelism is #(hour buckets), not #days or #users;
# at 100 TB the bucket width is the tuning knob: width ~ median span
# keeps the explode factor ~2 AND bounds duplicate candidate emissions
# (a pair sharing k buckets is emitted k times, k-1 filtered). Measured
# at sf0.1 (median span 7.75 h): 1-hour buckets 9.3 s, 6-hour 3.1 s —
# the 3x is all re-emitted candidates, same output. NOTE the OUTPUT is
# inherently quadratic in concurrent spans per (bucket, day) — at
# production scale cap candidates per bucket (top-N by span length or a
# per-bucket sample) or pre-aggregate users to coarser spans (e.g.
# per-hour activity) so the pair space stays bounded, the same
# mitigation corpus_token_budget and seq_pack document for their
# quadratic-looking stages.
_OVL_BUCKET_S = 21600
_OVL_MIN_US = 1800 * 1_000_000  # >= 30 min of overlap


@_q(
    "join_interval_overlap",
    """
    WITH spans AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             min(ts) AS s, max(ts) AS e
      FROM events GROUP BY user_id, CAST(ts AS DATE))
    SELECT a.d AS day,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(round(CAST(sum(epoch_us(least(a.e, b.e))
                               - epoch_us(greatest(a.s, b.s))) AS DOUBLE)
                      / count(*) / 1000000.0, 4)
                AS DOUBLE) AS avg_overlap_s
    FROM spans a JOIN spans b
      ON a.d = b.d AND a.user_id < b.user_id
     AND epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s))
         >= 1800000000
    GROUP BY a.d
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # spans feeds BOTH sides of the self-join: materialize the user-day
    # aggregate once or each side re-shuffles the raw fact.
    spans = (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
        .select(
            "user_id", "d", "s", "e",
            F.floor(F.unix_timestamp("s") / _OVL_BUCKET_S).alias("b_lo"),
            F.floor(F.unix_timestamp("e") / _OVL_BUCKET_S).alias("b_hi"),
        )
        .localCheckpoint(eager=False)
    )
    # GUARDED width pin (VERDICT r14 #3): the pair loop's cost is
    # quadratic compute, not bytes, and on the tiny local fixture AQE's
    # byte-targeted coalescing collapsed the span table to ONE partition
    # — the whole pair+filter+agg stage ran as a single 2.0 s task. The
    # pin fires only while the source fact scans at fewer splits than
    # the cluster has cores; on a big input the guard returns None and
    # AQE keeps full ownership of the exchange (including skew split,
    # which an unconditional REPARTITION_BY_NUM would foreclose).
    sw = spread_width(spark, sf_dir, "events")
    if sw:
        spans = spans.repartition(sw)
    a = spans.select(
        F.col("user_id").alias("ua"),
        F.col("d").alias("da"),
        F.col("s").alias("sa"),
        F.col("e").alias("ea"),
        F.explode(F.expr("sequence(b_lo, b_hi)")).alias("bucket"),
    )
    b = spans.select(
        F.col("user_id").alias("ub"),
        F.col("d").alias("db"),
        F.col("s").alias("sb"),
        F.col("e").alias("eb"),
        F.explode(F.expr("sequence(b_lo, b_hi)")).alias("bucket"),
    )
    ov_us = F.unix_micros(F.least("ea", "eb")) - F.unix_micros(
        F.greatest("sa", "sb")
    )
    pairs = (
        a.join(b, ["bucket"])
        .filter(
            (F.col("da") == F.col("db"))
            & (F.col("ua") < F.col("ub"))
            & (ov_us >= _OVL_MIN_US)
            # dedup-free banding: keep the pair ONLY in the bucket that
            # contains the overlap's start — exactly one match per pair
            & (
                F.floor(
                    F.unix_timestamp(F.greatest("sa", "sb")) / _OVL_BUCKET_S
                )
                == F.col("bucket")
            )
        )
    )
    return pairs.groupBy(F.col("da").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(ov_us).cast("double")
            / F.count(F.lit(1))
            / 1_000_000.0,
            4,
        )
        .cast("double")
        .alias("avg_overlap_s"),
    )


# --- J15 basket_lift: market-basket association mining over order
# line-items — support / confidence / lift for co-purchased part pairs,
# the frequent-itemset primitive (Apriori's k=2 pass) behind every
# "bought together" recommender and assortment audit. The pair space is
# generated per ORDER (a self-join on the order key, quadratic only in
# the basket size — ~4 items here, never in #orders or #parts), so the
# shuffle is order-co-located; part frequencies are a vocabulary-sized
# relation that broadcasts back; the final top-25 by lift is a
# distributed TakeOrderedAndProject (no global sort). Min support >= 3
# keeps the output statistically meaningful and the oracle stable.
_BASKET_MIN_PC = 3
_BASKET_TOPK = 25


@_q(
    "basket_lift",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    freq AS (SELECT p, count(*) AS f FROM items GROUP BY p),
    tot AS (SELECT count(DISTINCT o) AS n FROM items),
    pc AS (
      SELECT a.p AS pa, b.p AS pb, count(*) AS c
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
      HAVING count(*) >= {_BASKET_MIN_PC})
    SELECT pa, pb, CAST(c AS BIGINT) AS n_orders_both,
           round(CAST(c AS DOUBLE) / t.n, 6) AS support,
           round(CAST(c AS DOUBLE) / fa.f, 6) AS confidence,
           round(CAST(c AS DOUBLE) * t.n / (fa.f * fb.f), 6) AS lift
    FROM pc
    JOIN freq fa ON pc.pa = fa.p
    JOIN freq fb ON pc.pb = fb.p
    CROSS JOIN tot t
    ORDER BY lift DESC, pa, pb LIMIT {_BASKET_TOPK}
    """,
)
def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # items feeds FOUR branches (both self-join sides, frequencies, the
    # order total): one materialization, or each branch re-runs the
    # distinct over the raw fact.
    items = (
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    freq = items.groupBy("p").agg(F.count(F.lit(1)).alias("f"))
    tot = items.agg(F.countDistinct("o").alias("n"))
    a = items.alias("a")
    b = items.alias("b")
    pc = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _BASKET_MIN_PC)
    )
    fa = freq.select(F.col("p").alias("pa"), F.col("f").alias("fa"))
    fb = freq.select(F.col("p").alias("pb"), F.col("f").alias("fb"))
    return (
        pc.join(F.broadcast(fa), "pa")
        .join(F.broadcast(fb), "pb")
        .crossJoin(F.broadcast(tot))
        .select(
            "pa", "pb",
            F.col("c").cast("bigint").alias("n_orders_both"),
            F.round(F.col("c").cast("double") / F.col("n"), 6).alias(
                "support"
            ),
            F.round(F.col("c").cast("double") / F.col("fa"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("c").cast("double") * F.col("n")
                / (F.col("fa") * F.col("fb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "pa", "pb")
        .limit(_BASKET_TOPK)
    )


# --- J16 graph_triangle_count: triangle counting + global clustering
# coefficient over the co-purchase graph (parts = nodes, edges = pairs
# co-occurring in >= 2 orders) — the distributed graph primitive behind
# community/cohesion metrics, expressed declaratively as the classic
# two-join plan: enumerate ordered two-paths (a<b<c through center b),
# then close them against the edge list. Ordering each edge low-id ->
# high-id counts every triangle exactly once; at production scale the
# orientation key is DEGREE (low-degree -> high-degree), which bounds
# the per-node two-path blow-up by sqrt(|E|) (Suri & Vassilvitskii's
# MR curtains) — same plan, different sort key, noted here because id
# orientation is what the tiny fixture needs for a deterministic
# oracle. All joins are equi-joins on node ids; nothing is ever
# nested-loop.
_TRI_MIN_CO = 2


@_q(
    "graph_triangle_count",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    edges AS (
      SELECT a.p AS u, b.p AS v
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING count(*) >= {_TRI_MIN_CO}),
    nodes AS (
      SELECT count(DISTINCT x) AS n_nodes FROM (
        SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)),
    deg AS (
      SELECT x, count(*) AS d FROM (
        SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY x),
    wedges AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
               FROM deg),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT CAST(n.n_nodes AS BIGINT) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           CAST(t.n_triangles AS BIGINT) AS n_triangles,
           round(CASE WHEN w.n_wedges = 0 THEN 0.0
                      ELSE 3.0 * t.n_triangles / w.n_wedges END, 6)
               AS global_clustering
    FROM nodes n CROSS JOIN tri t CROSS JOIN wedges w
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    # the edge list feeds FOUR consumers (three triangle-join branches +
    # degrees): materialize once.
    edges = (
        items.alias("a")
        .join(items.alias("b"), ["o"])
        .filter(F.col("a.p") < F.col("b.p"))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _TRI_MIN_CO)
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    endpoints = edges.select(F.col("u").alias("x")).unionAll(
        edges.select(F.col("v").alias("x"))
    )
    nodes = endpoints.agg(F.countDistinct("x").alias("n_nodes"))
    wedges = (
        endpoints.groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(
            F.sum(F.col("d") * (F.col("d") - 1) / 2)
            .cast("bigint")
            .alias("n_wedges")
        )
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedges))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
            F.round(
                F.when(F.col("n_wedges") == 0, 0.0).otherwise(
                    3.0 * F.col("n_triangles") / F.col("n_wedges")
                ),
                6,
            ).alias("global_clustering"),
        )
    )
