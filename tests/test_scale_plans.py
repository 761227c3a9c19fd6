"""Scale-shape assertions: these tests pin the PLAN, not the rows.

A correct result computed through an all-pairs nested-loop join is still
wrong at 100 TB — the round-1 verdict flagged exactly that in
dedup_embedding_cosine. These tests fail if the scale-killers come back.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ballista_delta_spark.queries.dedup import dedup_embedding_cosine
from ballista_delta_spark.queries.similarity import lsh_bucket_expr, lsh_bucketize


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_embedding_dedup_has_no_nested_loop_join(spark, sf_dir):
    """The blocked form must join on the bucket key — a
    BroadcastNestedLoopJoin over the corpus means the O(n^2) theta join
    is back."""
    plan = _physical_plan(dedup_embedding_cosine(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_minhash_signature_table_is_materialized_once(spark, sf_dir):
    """dedup_minhash_lsh must serve band-join AND verify from the
    checkpointed signature table. If the checkpoint regresses, the raw
    corpus scan (and its md5 shingling) reappears in the final plan —
    the r3 plan ran it SIX times."""
    from ballista_delta_spark.queries.dedup import dedup_minhash_lsh

    plan = _physical_plan(dedup_minhash_lsh(spark, sf_dir))
    assert "Scan parquet" not in plan, plan
    assert "md5" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan  # the checkpointed table


def test_lsh_bucket_count_grows_with_planes(spark, sf_dir):
    """2^n_planes is the parallelism ceiling of the bucket join; the plane
    count must actually widen the bucket space when raised (the round-1
    constant 16-bucket config capped any cluster at 16-way)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    counts = {
        n: lsh_bucketize(e, n).select("bucket").distinct().count()
        for n in (2, 4, 8)
    }
    assert counts[2] <= 4
    assert counts[2] < counts[4] < counts[8]
    # And distinct plane configs must produce distinct expressions.
    assert lsh_bucket_expr(4) != lsh_bucket_expr(8)


def test_lsh_bucket_spark_duck_dialects_agree(spark, sf_dir):
    """The generated Spark and DuckDB bucket expressions must compute the
    same bucket for every vector (term order included — a sign flip near 0
    from a different fold order would silently desync the oracle)."""
    import duckdb

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    got = {
        r["vec_id"]: r["bucket"]
        for r in lsh_bucketize(e, 4).select("vec_id", "bucket").collect()
    }
    con = duckdb.connect()
    want = dict(
        con.sql(
            f"""
            SELECT vec_id, {lsh_bucket_expr(4, dialect="duckdb")} AS bucket
            FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
                  FROM read_parquet('{sf_dir}/embeddings.parquet'))
            """
        ).fetchall()
    )
    assert got == want


def test_agg_basic_pushdown_and_pruning(spark, sf_dir):
    """The Q1 filter must reach the parquet scan (PushedFilters) and the
    scan must read only the referenced columns (ReadSchema pruned) — a
    full-width scan is the difference between reading 7 and 100 TB."""
    from ballista_delta_spark.queries.aggregates import QUERIES

    fn, _ = QUERIES["agg_basic"]
    plan = _physical_plan(fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_quantity" in read and "l_orderkey" not in read, read


def test_broadcast_hint_plans_broadcast_join(spark, sf_dir):
    from ballista_delta_spark.queries.joins import QUERIES

    fn, _ = QUERIES["join_broadcast_hint"]
    plan = _physical_plan(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_delta_partitioned_scan_prunes_directories(spark, sf_dir):
    """The o_orderstatus='O' predicate must become a PartitionFilter on the
    Delta-backed scan — pruning whole Hive directories before file listing."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ballista_delta_spark.sources.delta import read_delta, write_delta

    tbl = os.path.join(tempfile.mkdtemp(prefix="bds-prune-"), "orders")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_delta(orders, tbl, mode="overwrite", partition_by=["o_orderstatus"])
    df = read_delta(spark, tbl).filter(F.col("o_orderstatus") == "O")
    plan = _physical_plan(df)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1].splitlines()[0], plan


def test_text_ops_are_single_pass_no_shuffle(spark, sf_dir):
    """Text analysis must stay one narrow codegen'd pass — any Exchange
    means an unnecessary shuffle of the whole corpus."""
    from ballista_delta_spark.queries.text import QUERIES

    for name in ("text_token_count", "text_quality", "text_lang_id", "text_fingerprint"):
        fn, _ = QUERIES[name]
        plan = _physical_plan(fn(spark, sf_dir))
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"
        # '*(n)' is the whole-stage-codegen marker in the compact plan string.
        assert "*(1)" in plan, f"{name} left codegen:\n{plan}"


def test_ivf_assignment_is_map_side_and_join_broadcasts(spark, sf_dir):
    """IVF scale contract: cell assignment must be a pure projection over
    literal centroid state (no join, no shuffle of the corpus before the
    probe join), the probe join must be a BroadcastHashJoin on the cell
    key, and top-k must push a WindowGroupLimit below the final exchange.
    A giant inlined argmax in a pushed-down Filter (the janino-overflow
    regression) would show up as ERROR CodeGenerator + interpreted eval —
    pinned here by asserting the cell expression stays out of Filters."""
    from ballista_delta_spark.queries.similarity import QUERIES

    fn, _ = QUERIES["sim_ivf_topk"]
    plan = _physical_plan(fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    # Corpus side: exactly one exchange total (the 5-partition window
    # shuffle of already-top-k-limited candidates); the assignment itself
    # must not add one.
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # The argmax lives in exactly one Project and in NO Filter: a Filter
    # containing array_position means null-filter pushdown re-inlined it.
    for line in plan.splitlines():
        if "Filter" in line.split("(")[0] or line.strip(" :+-").startswith("Filter"):
            assert "array_position" not in line, line[:200]


def test_asof_join_is_single_pass_no_nested_loop(spark, sf_dir):
    """The as-of join must be the union + carry-forward-window form: no
    join operator at all (in particular no per-key nested loop), exactly
    one exchange of each side's rows (the user_id window shuffle) plus the
    view-dedup window's exchange — never a range theta join."""
    from ballista_delta_spark.queries.joins import QUERIES

    fn, _ = QUERIES["join_asof"]
    plan = _physical_plan(fn(spark, sf_dir))
    for op in ("BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin",
               "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, f"{op} in as-of plan:\n{plan}"
    assert plan.count("Window") >= 1


def test_bucketed_tables_join_without_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed identically on the join key must join with NO
    Exchange on either side — the co-located join that makes repeated
    fact-table joins affordable at 100 TB. (Broadcast disabled so the plan
    can't sidestep the property.)"""
    from ballista_delta_spark.sources.registry import register_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    register_bucketed(
        spark, "orders_b", orders, ["o_custkey"], 4,
        path=str(tmp_path / "orders_b"),
    )
    register_bucketed(
        spark, "cust_b", cust, ["c_custkey"], 4,
        path=str(tmp_path / "cust_b"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("orders_b").join(
            spark.table("cust_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = _physical_plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    # And the bucket layout is real: selectedBucketsCount shows on the scan.
    assert "Bucketed: true" in plan, plan


def test_salted_join_matches_plain_join_and_partitions_on_salt(spark, sf_dir):
    """salted_join must return exactly the plain join's rows while
    shuffling on (key, salt) — the hot key spreads over n_salts tasks."""
    from ballista_delta_spark.queries.joins import salted_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # Salting only matters when the right side can't broadcast — force the
    # shuffle path the helper exists for.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        salted = salted_join(orders, cust, "o_custkey", n_salts=8)
        plain = orders.join(cust, "o_custkey")
        assert salted.count() == plain.count()
        assert (
            salted.agg(F.sum("o_totalprice")).first()[0]
            == plain.agg(F.sum("o_totalprice")).first()[0]
        )
        plan = _physical_plan(salted)
        assert "__salt" in plan.split("Exchange hashpartitioning")[1], plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_range_join_is_banded_equi_not_theta(spark, sf_dir):
    """The range join must hit a hash-partitioned equi-join on
    (user_id, bucket); the time-range predicate is a residual filter, not
    the join strategy."""
    from ballista_delta_spark.queries.joins import QUERIES

    fn, _ = QUERIES["join_range_banded"]
    plan = _physical_plan(fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan


def test_emb_normalize_keeps_single_norm_subtree(spark, sf_dir):
    """emb_normalize/emb_quantize_int8 must keep the 64-term norm as ONE
    sqrt() referenced by a higher-order transform — if a refactor unrolls
    the output array, CollapseProject inlines the norm into every element
    (64 copies of a 64-term sum; measured 55 s of planning at sf0.01).
    Pin: exactly one sqrt in the optimized plan, transform() present."""
    from ballista_delta_spark.queries.similarity import (
        emb_normalize,
        emb_quantize_int8,
    )

    for fn in (emb_normalize, emb_quantize_int8):
        df = fn(spark, sf_dir)
        optimized = (
            df._jdf.queryExecution().optimizedPlan().toString()
        )
        assert optimized.lower().count("sqrt") == 1, (
            f"{fn.__name__}: norm subtree duplicated "
            f"({optimized.lower().count('sqrt')} sqrt nodes)"
        )
        assert "lambdafunction" in optimized.lower(), optimized


def test_stream_dedup_watermarked_uses_bounded_state_operator(spark, sf_dir):
    """stream_dedup_watermarked must run the DeduplicateWithinWatermark
    operator (state evicted as the watermark passes), not the unbounded
    Deduplicate — at 100 TB of events the difference is a state store
    bounded by the watermark window vs one that grows forever."""
    from ballista_delta_spark.queries.streaming_q import _events_stream

    ev = (
        _events_stream(spark, sf_dir)
        .select("ts", "user_id", "event_type")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    logical = ev._jdf.queryExecution().logical().toString()
    assert "DeduplicateWithinWatermark" in logical, logical
    assert "EventTimeWatermark" in logical.replace(
        "DeduplicateWithinWatermark", ""
    ), logical


def test_new_text_ops_scale_shapes(spark, sf_dir):
    """text_pii_redact / text_gopher_quality: one narrow pass, no shuffle.
    text_bigram_topk: exactly ONE exchange carrying a partially-aggregated
    (bigram, count) relation — vocabulary-sized, not token-count-sized —
    and the top-25 must be TakeOrderedAndProject (no global sort
    materialization)."""
    from ballista_delta_spark.queries.text import QUERIES

    for name in ("text_pii_redact", "text_gopher_quality"):
        fn, _ = QUERIES[name]
        plan = _physical_plan(fn(spark, sf_dir))
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"

    fn, _ = QUERIES["text_bigram_topk"]
    plan = _physical_plan(fn(spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan, plan  # map-side combine
    assert "TakeOrderedAndProject" in plan, plan


def test_pipeline_ops_scale_shapes(spark, sf_dir):
    """Pins for the r7 pipeline family (queries/pipeline.py):

    - doc_chunk expands chunks per-row — ZERO exchanges (a shuffle here
      would mean the explode got re-keyed, paying a corpus-wide move for
      a purely local expansion);
    - corpus_mix's sampling/epoch arms are pure derivation — no joins at
      all (membership must never be materialized via a join against a
      stored membership table);
    - text_tfidf_topk broadcasts the vocabulary-sized df relation — the
      corpus-sized tf side must not be re-shuffled for the join;
    - seq_pack's window and aggregate reuse ONE partitioning of the lang
      stream (cumsum shuffle + output sort only).
    """
    from ballista_delta_spark.queries.pipeline import (
        corpus_mix,
        doc_chunk,
        seq_pack,
        text_tfidf_topk,
    )

    chunk_plan = _physical_plan(doc_chunk(spark, sf_dir))
    assert "Exchange" not in chunk_plan, chunk_plan
    assert "Generate explode" in chunk_plan, chunk_plan

    mix_plan = _physical_plan(corpus_mix(spark, sf_dir))
    assert "Join" not in mix_plan, mix_plan

    tfidf_plan = _physical_plan(text_tfidf_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in tfidf_plan, tfidf_plan
    assert "SortMergeJoin" not in tfidf_plan, tfidf_plan
    assert "BroadcastNestedLoopJoin" not in tfidf_plan, tfidf_plan

    pack_plan = _physical_plan(seq_pack(spark, sf_dir))
    # one hash exchange for the lang stream + one range exchange for the
    # ordered output — anything more means the window/agg partitioning
    # stopped being reused
    n_ex = pack_plan.count("Exchange")
    assert n_ex <= 2, pack_plan
    assert "RunningWindowFunction" in pack_plan or "Window" in pack_plan


def test_label_propagation_is_one_action_per_round(spark):
    """Connected components must pay ONE driver action per propagation
    round (the convergence count, whose job also materializes the lazy
    localCheckpoint) — an eager checkpoint would double the job count
    (VERDICT r7 #7). AQE is disabled for the measurement because it
    splits one action into one job per query stage."""
    from ballista_delta_spark.queries.dedup import label_propagate_min

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        edges = [(1, 2), (2, 1), (1, 3), (3, 1)]  # star: seed converges
        sym = spark.createDataFrame(
            edges, "src long, dst long"
        ).localCheckpoint()
        sc = spark.sparkContext
        sc.setJobGroup("cc-actions", "label propagation action count")
        labels = label_propagate_min(sym)
        out = {r.doc_id: r.cluster_id for r in labels.collect()}
        sc.setJobGroup("", "")
        assert out == {1: 1, 2: 1, 3: 1}
        jobs = sc.statusTracker().getJobIdsForGroup("cc-actions")
        # seed checkpoint (eager, 1) + round-1 convergence count (1,
        # detects no change) + the collect (1) = 3. An eager per-round
        # checkpoint would add a 4th.
        assert len(jobs) <= 3, jobs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_emb_project_is_map_only(spark, sf_dir):
    """The random-projection reduce must stay a map-only pass: weights are
    regenerated from (k, d), never shipped — an Exchange (or a join) here
    means the matrix got materialized as a relation."""
    from ballista_delta_spark.queries.similarity import emb_project

    plan = _physical_plan(emb_project(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    # And it must stay inside whole-stage codegen: the single-array form
    # of the 8 unrolled dot chains blew janino's 64 KB method limit and
    # silently ran interpreted (r7 verdict). Split per-column, every node
    # of the stage carries the `*(n)` codegen marker.
    assert "*(1)" in plan, plan
    generate_lines = [ln for ln in plan.splitlines() if "Generate" in ln]
    assert generate_lines and all("*(" in ln for ln in generate_lines), plan


def test_r7_late_ops_scale_shapes(spark, sf_dir):
    """Pins for the late-r7 additions:

    - text_decontaminate must BROADCAST the benchmark shingle set (a
      SortMergeJoin would reshuffle the full train side for a probe the
      size of one benchmark);
    - events_sessionize reuses one (user) partitioning for window + agg —
      ≤2 exchanges (stream hash + output sort);
    - mm_resize_pool is a narrow mapInPandas — no Exchange at all.
    """
    from ballista_delta_spark.queries.multimodal import mm_resize_pool
    from ballista_delta_spark.queries.pipeline import (
        events_sessionize,
        text_decontaminate,
    )

    decon_plan = _physical_plan(text_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in decon_plan, decon_plan
    assert "SortMergeJoin" not in decon_plan.split("BroadcastHashJoin")[0], (
        decon_plan
    )
    # And the train side must reach the broadcast probe UNSHUFFLED: the
    # left branch of the probe join (the lines between the inner
    # BroadcastHashJoin and its BroadcastExchange sibling) may contain no
    # shuffle Exchange. A pre-join (doc_id, shingle) distinct — the shape
    # this pin exists to forbid — re-shuffles every 13-gram of the train
    # corpus; dedup belongs AFTER the probe, over the matched rows only.
    inner = decon_plan[decon_plan.rindex("BroadcastHashJoin"):]
    left_branch = inner[:inner.index("BroadcastExchange")]
    assert "Exchange hashpartitioning" not in left_branch, decon_plan

    sess_plan = _physical_plan(events_sessionize(spark, sf_dir))
    assert sess_plan.count("Exchange") <= 2, sess_plan
    assert "Window" in sess_plan

    mm_plan = _physical_plan(mm_resize_pool(spark, sf_dir))
    assert "Exchange" not in mm_plan, mm_plan
    assert "MapInPandas" in mm_plan, mm_plan


def test_r8_ops_scale_shapes(spark, sf_dir):
    """Pins for the r8 additions (the r8 verdict's manual .explain audit,
    made permanent):

    - tpch_q5/q10: filter pushed into EVERY scan, no sort-merge /
      nested-loop / cartesian join at bench scale (dims broadcast);
    - tpch_q18: the HAVING-subquery decorrelates to a LeftSemi join (a
      correlated re-scan per order is the O(n^2) shape this forbids);
    - events_funnel/retention: cascaded per-user aggregates — bounded
      exchange counts, no cartesian;
    - events_anomaly: two-pass z-score with a broadcast join-back —
      ≤2 exchanges;
    - sample_weighted: the sampling pass is ONE codegen'd filter scan
      (no join anywhere); only the output summary agg shuffles.
    """
    from ballista_delta_spark.queries.pipeline import (
        events_anomaly,
        events_funnel,
        events_retention,
    )
    from ballista_delta_spark.queries.sampling import sample_weighted
    from ballista_delta_spark.queries.tpch import tpch_q5, tpch_q10, tpch_q18

    def no_scale_killers(plan):
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    for q, scans in ((tpch_q5, 6), (tpch_q10, 4)):
        plan = _physical_plan(q(spark, sf_dir))
        no_scale_killers(plan)
        assert plan.count("Scan parquet") == scans, plan
        assert plan.count("PushedFilters: []") == 0, plan

    q18_plan = _physical_plan(tpch_q18(spark, sf_dir))
    no_scale_killers(q18_plan)
    assert "LeftSemi" in q18_plan, q18_plan

    funnel_plan = _physical_plan(events_funnel(spark, sf_dir))
    no_scale_killers(funnel_plan)
    assert funnel_plan.count("Exchange") <= 11, funnel_plan

    retention_plan = _physical_plan(events_retention(spark, sf_dir))
    no_scale_killers(retention_plan)
    assert retention_plan.count("Exchange") <= 4, retention_plan

    anomaly_plan = _physical_plan(events_anomaly(spark, sf_dir))
    no_scale_killers(anomaly_plan)
    assert anomaly_plan.count("Exchange") <= 2, anomaly_plan

    weighted_plan = _physical_plan(sample_weighted(spark, sf_dir))
    assert "Join" not in weighted_plan, weighted_plan
    assert weighted_plan.count("Scan parquet") == 1, weighted_plan
    assert weighted_plan.count("Exchange") <= 2, weighted_plan


def test_r9_tpch_scale_shapes(spark, sf_dir):
    """Pins for the r9 TPC-H additions:

    - tpch_q3: segment-filtered customer broadcasts; both date filters
      pushed; top-10 via TakeOrderedAndProject, never a global Sort;
    - tpch_q7: nation joins in TWICE (self-joined dim) — both sides
      broadcast, the symmetric OR pair never degrades to a nested loop;
    - tpch_q12: one broadcast fact-dim join, conditional counts collapse
      into a single aggregate — ≤2 exchanges total.
    """
    from ballista_delta_spark.queries.tpch import tpch_q3, tpch_q7, tpch_q12

    def no_scale_killers(plan):
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    q3 = _physical_plan(tpch_q3(spark, sf_dir))
    no_scale_killers(q3)
    assert q3.count("Scan parquet") == 3, q3
    assert q3.count("PushedFilters: []") == 0, q3
    assert "TakeOrderedAndProject" in q3, q3

    q7 = _physical_plan(tpch_q7(spark, sf_dir))
    no_scale_killers(q7)
    assert q7.count("Scan parquet") == 6, q7  # nation scanned twice
    assert q7.count("BroadcastHashJoin") >= 4, q7

    q12 = _physical_plan(tpch_q12(spark, sf_dir))
    no_scale_killers(q12)
    assert q12.count("Scan parquet") == 2, q12
    assert q12.count("PushedFilters: []") == 0, q12
    # one agg shuffle + the range partition for the final ORDER BY over
    # |linestatus| rows — the latter is O(groups), not O(fact)
    assert q12.count("Exchange") <= 3, q12
    assert q12.count("hashpartitioning") <= 1, q12


def test_r9_text_ops_scale_shapes(spark, sf_dir):
    """Pins for the r9 LM-quality additions:

    - text_bigram_logprob: bigram pairing is a TRANSFORM over the token
      array (no self-join / window shuffle to pair neighbors); the
      unigram vocabulary broadcasts; no sort-merge / nested-loop /
      cartesian anywhere;
    - text_ccnet_bucket: tercile thresholds are driver scalars — bucket
      assignment adds NO join and no extra exchange beyond the scoring
      aggregate.
    """
    from ballista_delta_spark.queries.pipeline import (
        text_bigram_logprob,
        text_ccnet_bucket,
    )

    bp = _physical_plan(text_bigram_logprob(spark, sf_dir))
    assert "SortMergeJoin" not in bp, bp
    assert "BroadcastNestedLoopJoin" not in bp, bp
    assert "CartesianProduct" not in bp, bp
    assert "Window" not in bp, bp  # neighbor pairing is the narrow map
    assert bp.count("Exchange") <= 5, bp

    cb = _physical_plan(text_ccnet_bucket(spark, sf_dir))
    assert "SortMergeJoin" not in cb, cb
    assert "BroadcastNestedLoopJoin" not in cb, cb
    assert "CartesianProduct" not in cb, cb
    assert cb.count("BroadcastHashJoin") == 1, cb  # vocab probe only
    assert cb.count("Exchange") <= 3, cb


def test_events_transitions_scale_shape(spark, sf_dir):
    """events_transitions: ONE corpus-sized exchange (the per-user window
    shuffle); the pair aggregate is transitions²-bounded; the grand-total
    fold is a 1-ROW broadcast cross join — the only NLJ allowed here, and
    only because its build side is a single scalar row."""
    from ballista_delta_spark.queries.pipeline import events_transitions

    plan = _physical_plan(events_transitions(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert plan.count("Exchange") <= 7, plan


def test_tpch_q19_or_pushdown_shape(spark, sf_dir):
    """tpch_q19: OR-of-ANDs straddling the join — the per-side conjuncts
    common to all branches must still push into BOTH scans (Catalyst's
    cross-branch extraction), and the join stays a single partkey
    BroadcastHashJoin carrying the residual OR, never a nested loop."""
    from ballista_delta_spark.queries.tpch import tpch_q19

    plan = _physical_plan(tpch_q19(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("PushedFilters: []") == 0, plan
    # the extracted common conjuncts visibly reach the scans
    assert "p_size" in plan.split("PushedFilters")[2], plan


def test_dedup_incremental_probe_broadcasts_the_batch(spark, sf_dir):
    """dedup_incremental: the new-batch shingles must BROADCAST onto the
    history index — the corpus-sized side never reshuffles for the probe
    (the O(batch)-per-day contract); no sort-merge / nested-loop /
    cartesian anywhere."""
    from ballista_delta_spark.queries.dedup import dedup_incremental

    plan = _physical_plan(dedup_incremental(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan
    # the probe join's streamed (non-broadcast) side is the history
    # index: its subtree must carry the hot-shingle cap window, and the
    # broadcast build side the batch filter
    assert "% 4) = 0" in plan, plan          # batch side exists
    assert "window" in plan.lower(), plan    # capped history index


def test_emb_kmeans_step_is_one_pass_one_shuffle(spark, sf_dir):
    """emb_kmeans_step: assignment is a pure projection over literal
    centroid state (ZERO joins — the oracle's cross join exists only in
    SQL), and the single exchange carries K*DIM (cluster, dim) partial
    sums — constant width regardless of corpus size."""
    from ballista_delta_spark.queries.similarity import QUERIES

    fn, _ = QUERIES["emb_kmeans_step"]
    plan = _physical_plan(fn(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") <= 2, plan


def test_events_dau_stickiness_reuses_the_dedup_shuffle(spark, sf_dir):
    """events_dau_stickiness: both grains derive from one (day, user)
    dedup; the day-to-week join broadcasts (O(days) rows); no sort-merge
    or nested loop anywhere."""
    from ballista_delta_spark.queries.pipeline import events_dau_stickiness

    plan = _physical_plan(events_dau_stickiness(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange") <= 7, plan


def test_r9b_tpch_suite_scale_shapes(spark, sf_dir):
    """Pins for the r9b TPC-H completion (the suite is 22/22).

    Common gate, every query: no nested-loop or cartesian join anywhere,
    and at least one scan carries a pushed filter (unfiltered dim scans
    and correlated-only predicates legitimately push nothing, so the
    every-scan gate applies just to q1/q6 where each scan has a static
    predicate). Sort-merge joins are likewise forbidden — at bench scale
    every dim broadcasts — EXCEPT tpch_q2 and tpch_q20, whose
    decorrelated aggregate sides have no stats until runtime: their
    initial plans carry an SMJ that AQE converts to broadcast once the
    aggregate's true (tiny) size is known, so those two are pinned on
    the AQE FINAL plan instead (executed, initial-plan section
    stripped).

    Per-query structure:
    - q1 is join-free (one scan, partial->final agg);
    - q4/q20 plan their IN/EXISTS as LeftSemi joins;
    - q16/q22 plan NOT-IN/NOT-EXISTS as LeftAnti joins;
    - q21 needs BOTH (EXISTS -> semi, NOT EXISTS -> anti);
    - q13's priority filter stays inside the LeftOuter join;
    - q8 scans nation twice (the self-joined dim).
    """
    from ballista_delta_spark.queries import tpch as t

    plans = {}
    for name in (
        "tpch_q1", "tpch_q2", "tpch_q4", "tpch_q6", "tpch_q8", "tpch_q9",
        "tpch_q11", "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q16",
        "tpch_q17", "tpch_q20", "tpch_q21", "tpch_q22",
    ):
        plan = _physical_plan(t.QUERIES[name][0](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        import re as _re

        pushed = _re.findall(r"PushedFilters: \[[^\]]", plan)
        assert pushed, (name, plan)  # >=1 scan with a real pushed filter
        if name in ("tpch_q1", "tpch_q6"):
            assert "PushedFilters: []" not in plan, (name, plan)
        if name in ("tpch_q2", "tpch_q20"):
            # Execute, then pin the AQE final plan (strip the appended
            # "Initial Plan" section — its pre-stats SMJ is expected).
            df = t.QUERIES[name][0](spark, sf_dir)
            df.collect()
            final = _physical_plan(df).split("== Initial Plan ==")[0]
            assert "SortMergeJoin" not in final, (name, final)
            # AQE either broadcasts the tiny aggregate side or, when a
            # filter empties a branch at small SF, folds the whole tree
            # into an EmptyRelation — both are the scale-right outcome.
            assert ("BroadcastHashJoin" in final
                    or "EmptyRelation" in final), (name, final)
        else:
            assert "SortMergeJoin" not in plan, (name, plan)
        plans[name] = plan

    assert "Join" not in plans["tpch_q1"], plans["tpch_q1"]
    assert plans["tpch_q1"].count("Scan parquet") == 1
    assert "LeftSemi" in plans["tpch_q4"], plans["tpch_q4"]
    assert "LeftSemi" in plans["tpch_q20"], plans["tpch_q20"]
    assert "LeftAnti" in plans["tpch_q16"], plans["tpch_q16"]
    assert "LeftAnti" in plans["tpch_q22"], plans["tpch_q22"]
    assert "LeftSemi" in plans["tpch_q21"], plans["tpch_q21"]
    assert "LeftAnti" in plans["tpch_q21"], plans["tpch_q21"]
    assert "LeftOuter" in plans["tpch_q13"], plans["tpch_q13"]
    assert plans["tpch_q8"].count("Scan parquet") == 8, plans["tpch_q8"]


def test_join_bucketed_is_exchange_free(spark, sf_dir):
    """join_bucketed's whole point: once both sides are written bucketed
    by the join key, the join itself needs NO exchange — task i
    merge-joins bucket i of each side in place. Pin: with broadcast
    disabled, the plan reads both bucketed scans (SelectedBucketsCount
    present) and the only exchanges are the final aggregate + sort —
    never one between a scan and the join."""
    from ballista_delta_spark.queries.joins import join_bucketed

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = join_bucketed(spark, sf_dir)
        plan = _physical_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    assert plan.count("SelectedBucketsCount") == 2, plan
    assert "SortMergeJoin" in plan, plan
    # split at the join: nothing below it (scan side) may shuffle
    below = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below.split("HashAggregate", 1)[0], plan
    # and overall: agg + orderBy only (2 exchanges), none for the join
    assert plan.count("Exchange") <= 2, plan


def test_r9b_sampling_ops_scale_shapes(spark, sf_dir):
    """Pins for the r9b sampling/sharding additions:

    - sample_reservoir: ONE hash exchange (the per-stratum window's
      partitionBy lang) — no joins; the rank-and-cut stays a single
      window pass;
    - corpus_shard_assign: the shard id is computed on the scan — no
      join; two hash exchanges, both O(shards × langs) not O(corpus)
      (count(DISTINCT lang) plans as the standard two-phase distinct
      aggregate: partial by (shard, lang), final by shard).
    """
    from ballista_delta_spark.queries.pipeline import corpus_shard_assign
    from ballista_delta_spark.queries.sampling import sample_reservoir

    rp = _physical_plan(sample_reservoir(spark, sf_dir))
    assert "Join" not in rp, rp
    assert rp.count("Exchange hashpartitioning") == 1, rp

    sp = _physical_plan(corpus_shard_assign(spark, sf_dir))
    assert "Join" not in sp, sp
    assert sp.count("Exchange hashpartitioning") <= 2, sp


def test_events_attribution_scale_shape(spark, sf_dir):
    """events_attribution must stay the no-self-join carry-forward form:
    ONE per-user window pass (single hash exchange of the event slice),
    no join anywhere — the naive form joins purchases back to a
    touches subquery, shuffling the slice twice."""
    from ballista_delta_spark.queries.pipeline import events_attribution

    plan = _physical_plan(events_attribution(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "RunningWindowFunction" in plan or "Window" in plan, plan


def test_r9c_dedup_ops_scale_shapes(spark, sf_dir):
    """Pins for the late-r9 dedup additions:

    - emb_semdedup: the cluster assignment must be materialized ONCE
      (checkpointed — both self-join sides read the ExistingRDD, never
      the parquet scan: recomputing the 512-term distance chains on both
      sides also blows janino's 64 KB method limit and drops the join
      stage to interpreted), and the within-cluster pairing must be an
      equi-join on cluster_id — no nested-loop / cartesian anywhere;
    - text_segment_dedup: the first-occurrence pick must be the skew-safe
      groupBy(seg)+min form (map-side partial_min collapses hot
      boilerplate segments BEFORE the exchange) — a Window partitioned by
      seg (which sorts every duplicate of a hot segment in one task) is
      the shape this forbids.
    """
    from ballista_delta_spark.queries.dedup import emb_semdedup
    from ballista_delta_spark.queries.pipeline import text_segment_dedup

    sem_plan = _physical_plan(emb_semdedup(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in sem_plan, sem_plan
    assert "CartesianProduct" not in sem_plan, sem_plan
    assert "Scan ExistingRDD" in sem_plan, sem_plan
    assert "Scan parquet" not in sem_plan, sem_plan

    seg_plan = _physical_plan(text_segment_dedup(spark, sf_dir))
    assert "Window" not in seg_plan, seg_plan
    assert "partial_min" in seg_plan, seg_plan
    assert "BroadcastNestedLoopJoin" not in seg_plan, seg_plan
    assert "CartesianProduct" not in seg_plan, seg_plan


def test_emb_pq_topk_scans_codes_not_vectors(spark, sf_dir):
    """PQ/ADC scale contract: the search-phase scan must read the
    MATERIALIZED compressed code table (vec_id + M int codes — the 32x
    shrink is the point of PQ), never re-derive codes from the parquet
    embeddings; the query distance-tables must be the BROADCAST side of
    the scan (an exchange of the corpus to meet 5 query rows would be
    backwards); and top-k must bound the candidate stream with a
    WindowGroupLimit on BOTH sides of the single final exchange."""
    from ballista_delta_spark.queries.similarity import emb_pq_topk

    plan = _physical_plan(emb_pq_topk(spark, sf_dir))
    # streamed side = the checkpointed code table, codes only
    assert "Scan ExistingRDD[vec_id" in plan, plan
    assert ",c0" in plan and ",c7" in plan, plan
    # the deliberate ADC cross join: query tables broadcast, corpus streamed
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan, plan
    assert "IdentityBroadcastMode" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("WindowGroupLimit") == 2, plan


def test_sample_temperature_measure_then_broadcast(spark, sf_dir):
    """Temperature resampling scale contract: exactly TWO corpus scans
    (the measuring pass, pruned to the lang column, and the sampling
    pass) — a scalar-subquery min would duplicate the counts subtree for
    a third; the K-row rate table must BROADCAST onto the corpus (no
    corpus shuffle to meet the rates); rate math stays in the plan (no
    driver collect)."""
    from ballista_delta_spark.queries.sampling import sample_temperature

    plan = _physical_plan(sample_temperature(spark, sf_dir))
    assert plan.count("FileScan parquet") == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    # the measuring scan reads ONLY lang
    assert "ReadSchema: struct<lang:string>" in plan, plan


def test_events_path_topk_reuses_user_partitioning(spark, sf_dir):
    """Path mining scale contract: hashpartitioning(user_id) must feed
    BOTH window passes (the per-(user, session) trigram window is
    clustered by a superset key, so EnsureRequirements may only insert a
    re-sort, never a second event-stream shuffle); the only other
    exchange carries the map-side-collapsed path counts (at most
    |event_type|^3 distinct keys); no joins anywhere."""
    from ballista_delta_spark.queries.pipeline import events_path_topk

    plan = _physical_plan(events_path_topk(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan


def test_mm_audio_energy_is_pushed_filter_narrow_map(spark, sf_dir):
    """Multimodal decode scale contract: the undersized-payload guard
    must reach the parquet scan as a PUSHED filter (short payloads never
    cross the JVM->Python Arrow boundary), and the whole pass must stay
    a narrow map — no Exchange anywhere."""
    from ballista_delta_spark.queries.multimodal import mm_audio_energy

    plan = _physical_plan(mm_audio_energy(spark, sf_dir))
    assert "GreaterThanOrEqual(n_chars,32)" in plan, plan
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_text_quality_classifier_is_single_pass(spark, sf_dir):
    """Model-based quality filter scale contract: the hashed-bigram
    linear model must run as ONE narrow pass over the corpus — weight
    lookups fold inside the row expression (no explode of the bigram
    stream, no shuffle, no Python)."""
    from ballista_delta_spark.queries.text import text_quality_classifier

    plan = _physical_plan(text_quality_classifier(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_emb_outlier_detect_zero_join_one_exchange(spark, sf_dir):
    """Outlier triage scale contract: cell assignment is a pure
    projection over literal centroid state (NO join anywhere), and the
    per-cell count + distance rank share ONE hashpartitioning(cluster_id)
    exchange (same-partitioning windows must not shuffle twice)."""
    from ballista_delta_spark.queries.similarity import emb_outlier_detect

    plan = _physical_plan(emb_outlier_detect(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_dedup_lsh_recall_reuses_signature_table(spark, sf_dir):
    """Dedup quality-gate scale contract: both audited sides must serve
    from the ONE checkpointed signature table (ExistingRDD scans — a
    recompute would re-shingle the corpus per branch), and the only
    nested-loop join allowed is the final 1x1 summary cross."""
    from ballista_delta_spark.queries.dedup import dedup_lsh_recall

    plan = _physical_plan(dedup_lsh_recall(spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan


def test_corpus_epoch_shuffle_no_global_sort(spark, sf_dir):
    """Epoch-shuffle scale contract: NO global total order (a rangepartitioning
    sort over the corpus is the classic 100 TB killer) — the one exchange
    hash-partitions by shard and each shard sorts independently; no joins;
    membership fully derived (no Python)."""
    from ballista_delta_spark.queries.pipeline import corpus_epoch_shuffle

    df = corpus_epoch_shuffle(spark, sf_dir)
    plan = _physical_plan(df)
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # the trailing orderBy is presentation-only for the oracle compare; the
    # work itself must not add a corpus-wide range sort BEFORE the window
    body = plan.split("Window")[-1]  # below the window: scan side
    assert "rangepartitioning" not in body, plan


def test_corpus_profile_two_phase_agg_tiny_window(spark, sf_dir):
    """Corpus-profile scale contract: map-side partial aggregation must
    collapse the corpus to O(langs x buckets) BEFORE any exchange (two
    HashAggregates around the shuffle), the share window runs over the
    aggregate (never the corpus), no joins, and the scan prunes to the
    three profiled columns."""
    from ballista_delta_spark.queries.pipeline import corpus_profile

    df = corpus_profile(spark, sf_dir)
    plan = _physical_plan(df)
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",") if c
    ) == {"lang", "source", "n_chars"}, plan


def test_r9f_substring_and_dsir_scale_shapes(spark, sf_dir):
    """Pins for the exact-substring dedup and the DSIR selector:

    - dedup_exact_substring: candidate pairing must be an EQUI-join on
      the 48-bit window hash (broadcast or co-partitioned — never a
      nested loop / cartesian, which would be the all-pairs suffix
      comparison the rolling-window index exists to avoid), the scan
      must prune to doc_id+text, and the shuffled index must carry
      hashes, not document text (no string window columns survive past
      the project).
    - sample_dsir: phase 2 (the returned plan — phase 1's B-row measure
      already ran at build time) must be ONE narrow codegen'd pass:
      zero joins, zero exchanges, zero Python evals, scan pruned to
      doc_id/lang/text with the 64-entry weight table inlined.
    """
    from ballista_delta_spark.queries.dedup import dedup_exact_substring
    from ballista_delta_spark.queries.sampling import sample_dsir

    sub_plan = _physical_plan(dedup_exact_substring(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in sub_plan, sub_plan
    assert "CartesianProduct" not in sub_plan, sub_plan
    assert re.search(
        r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \[h#", sub_plan
    ), sub_plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", sub_plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",") if c
    ) == {"doc_id", "text"}, sub_plan

    dsir_plan = _physical_plan(sample_dsir(spark, sf_dir))
    assert "Join" not in dsir_plan, dsir_plan
    assert "Exchange" not in dsir_plan, dsir_plan
    assert "BatchEvalPython" not in dsir_plan, dsir_plan
    assert "ArrowEvalPython" not in dsir_plan, dsir_plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", dsir_plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",") if c
    ) == {"doc_id", "lang", "text"}, dsir_plan


def test_r9f_vocab_and_scene_scale_shapes(spark, sf_dir):
    """Pins for the vocab-coverage curve and the scene-cut detector:

    - text_vocab_coverage: the top-V cut must be a distributed
      TakeOrderedAndProject (per-partition top-V + merge), never a global
      sort of the vocabulary; the word count must be a two-phase hash
      aggregate (map-side partials absorb hot stopwords before the
      exchange); the cumulative window runs post-limit over V rows.
    - mm_scene_detect: same contract as the other multimodal decodes —
      the undersized-payload guard reaches the scan as a PUSHED filter
      and the whole pass is a narrow Arrow map (no Exchange).
    """
    from ballista_delta_spark.queries.multimodal import mm_scene_detect
    from ballista_delta_spark.queries.text import text_vocab_coverage

    vocab_plan = _physical_plan(text_vocab_coverage(spark, sf_dir))
    assert "TakeOrderedAndProject" in vocab_plan, vocab_plan
    assert vocab_plan.count("HashAggregate") >= 2, vocab_plan
    assert "BatchEvalPython" not in vocab_plan, vocab_plan

    scene_plan = _physical_plan(mm_scene_detect(spark, sf_dir))
    assert "GreaterThanOrEqual(n_chars,32)" in scene_plan, scene_plan
    assert "Exchange" not in scene_plan, scene_plan
    assert "MapInPandas" in scene_plan, scene_plan


def test_corpus_curation_verdict_is_single_pass(spark, sf_dir):
    """Filter-ensemble scale contract: the verdict must compose every
    signal (gopher rules, distinct-token fraction, classifier fold) as
    expressions over ONE scan — no per-signal joins (three extra doc_id
    shuffles), no explode, no Python; scan pruned to doc_id/lang/text."""
    from ballista_delta_spark.queries.pipeline import corpus_curation_verdict

    plan = _physical_plan(corpus_curation_verdict(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",") if c
    ) == {"doc_id", "lang", "text"}, plan


def test_events_bot_detect_single_user_exchange(spark, sf_dir):
    """Bot-detect scale contract: exactly ONE hash exchange — the lag
    window partitions by user_id and the per-user aggregate reuses that
    partitioning (the events_funnel cascade); map-side partial
    aggregation present; no joins; scan pruned to the three consumed
    columns."""
    from ballista_delta_spark.queries.pipeline import events_bot_detect

    plan = _physical_plan(events_bot_detect(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",") if c
    ) == {"user_id", "ts", "event_id"}, plan


def test_r9g_lift_and_budget_scale_shapes(spark, sf_dir):
    """Pins for the type-lift association and the token-budget greedy cut:

    - events_type_lift: the corpus is shuffled ONCE (hash by user_id);
      pair expansion is in-array (no self-join — the oracle's join shape
      shuffles the corpus twice, this plan never does); every
      post-aggregate join is a broadcast; no sort-merge/cartesian.
    - corpus_token_budget: ONE exchange (hash by lang) feeding sort +
      window cumsum; no joins, no explode, no Python; scan pruned to
      doc_id/lang/text.
    """
    from ballista_delta_spark.queries.pipeline import (
        corpus_token_budget,
        events_type_lift,
    )

    lift_plan = _physical_plan(events_type_lift(spark, sf_dir))
    assert "SortMergeJoin" not in lift_plan, lift_plan
    assert "CartesianProduct" not in lift_plan, lift_plan
    assert "Exchange hashpartitioning(user_id" in lift_plan, lift_plan
    assert "BroadcastHashJoin" in lift_plan, lift_plan
    assert "BatchEvalPython" not in lift_plan, lift_plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", lift_plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",") if c
    ) == {"user_id", "event_type"}, lift_plan

    budget_plan = _physical_plan(corpus_token_budget(spark, sf_dir))
    assert budget_plan.count("Exchange hashpartitioning") == 1, budget_plan
    assert "Join" not in budget_plan, budget_plan
    assert "Generate" not in budget_plan, budget_plan
    assert "BatchEvalPython" not in budget_plan, budget_plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", budget_plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",") if c
    ) == {"doc_id", "lang", "text"}, budget_plan


def test_mm_clip_filter_is_pushed_narrow_map(spark, sf_dir):
    """CLIP-gate scale contract: same as the other multimodal decodes —
    the n_chars guard reaches the scan as a PUSHED filter, the scan reads
    only the consumed columns, and the scorer is one narrow Arrow map
    (no Exchange, no join)."""
    from ballista_delta_spark.queries.multimodal import mm_clip_filter

    plan = _physical_plan(mm_clip_filter(spark, sf_dir))
    assert "GreaterThanOrEqual(n_chars,1)" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",") if c
    ) <= {"doc_id", "text", "n_chars"}, plan


def test_emb_power_iteration_never_shuffles_corpus(spark, sf_dir):
    """Power-iteration scale contract: the corpus is read in ONE narrow
    pass — w and the 64 per-dim products are expressions, the fold is a
    single global aggregate (map-side partials, SinglePartition merge),
    and the only Generate (stack) runs over the one aggregate row. No
    hash exchange of corpus rows, no join, no Python; scan pruned to the
    embedding column."""
    from ballista_delta_spark.queries.similarity import emb_power_iteration

    plan = _physical_plan(emb_power_iteration(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",") if c
    ) == {"embedding"}, plan


def test_text_code_detect_is_single_pass(spark, sf_dir):
    """Code-router scale contract: every signal (line predicates, keyword
    and symbol counts) is an expression over the split array inside ONE
    codegen'd pass — no explode, no shuffle, no join, no Python; scan
    pruned to doc_id/text."""
    from ballista_delta_spark.queries.text import text_code_detect

    plan = _physical_plan(text_code_detect(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",") if c
    ) == {"doc_id", "text"}, plan


def test_doc_merge_short_reuses_lang_partitioning(spark, sf_dir):
    """Merge-packing scale contract: ONE exchange — the (lang, pack_id)
    aggregate is clustered by a superset of the window's lang
    partitioning, so Spark must NOT re-shuffle between the cumsum and
    the merge; no joins, no Python; scan pruned to lang/doc_id/text."""
    from ballista_delta_spark.queries.pipeline import doc_merge_short

    plan = _physical_plan(doc_merge_short(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",") if c
    ) == {"lang", "doc_id", "text"}, plan


def test_emb_whiten_broadcasts_stats_one_exchange(spark, sf_dir):
    """Whitening scale contract: the 64-row stats table BROADCASTS back
    over the corpus (a SortMergeJoin here would shuffle every vector by
    dim — 64x the corpus), and the only hash exchange in the plan is the
    stats aggregate's own 64-group collapse."""
    from ballista_delta_spark.queries.similarity import emb_whiten

    plan = _physical_plan(emb_whiten(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_text_entropy_is_single_pass(spark, sf_dir):
    """Entropy filter scale contract: one narrow codegen'd projection over
    the scan — no joins, no exchanges, no Python anywhere; ReadSchema
    pruned to doc_id/text."""
    from ballista_delta_spark.queries.text import text_entropy

    df = text_entropy(spark, sf_dir)
    plan = _physical_plan(df)
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "text" in read and "lang" not in read, read


def test_mm_dedup_ahash_bucket_join_over_checkpoint(spark, sf_dir):
    """Image near-dup scale contract: both probe sides serve from the ONE
    checkpointed signature table (an RDD scan — recomputing would run the
    Python aHash decode twice), the band probe is a hash EQUI-join (a
    nested-loop means the all-pairs path is back), and pair-dedup sits
    above the verify, never a corpus-wide distinct below it."""
    from ballista_delta_spark.queries.multimodal import mm_dedup_ahash

    plan = _physical_plan(mm_dedup_ahash(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "ArrowEvalPython" not in plan and "FlatMapsInPandas" not in plan.replace(" ", ""), plan


def test_corpus_lang_confusion_two_phase_tiny_window(spark, sf_dir):
    """Confusion-matrix scale contract: label and prediction ride ONE
    corpus pass into a two-phase hash agg (map-side partials collapse to
    the matrix grain before the only corpus-fed exchange); the share
    window runs over the aggregate — matrix-sized, never a second corpus
    shuffle; no joins, no Python."""
    from ballista_delta_spark.queries.pipeline import corpus_lang_confusion

    plan = _physical_plan(corpus_lang_confusion(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_emb_kcenter_step_takeordered_no_global_sort(spark, sf_dir):
    """k-center selection scale contract: zero joins (assignment is pure
    projection over literal center state), the farthest cut is a
    distributed TakeOrderedAndProject — a corpus-wide rangepartitioning
    sort is the 100 TB killer — and the rank window runs after the
    16-row cut."""
    from ballista_delta_spark.queries.similarity import emb_kcenter_step

    plan = _physical_plan(emb_kcenter_step(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_corpus_source_psi_matrix_sized_joins(spark, sf_dir):
    """Drift-monitor scale contract: the corpus feeds exactly one
    two-phase agg (map-side partials collapse to the source x bucket
    matrix); every join after is matrix-sized and BROADCAST — a
    SortMergeJoin here would re-shuffle rows that no longer exist at
    corpus grain."""
    from ballista_delta_spark.queries.pipeline import corpus_source_psi

    plan = _physical_plan(corpus_source_psi(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    # every branch serves from the ONE checkpointed matrix — zero
    # raw-corpus scans survive in the final plan (pre-fix: SIX)
    assert "Scan parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_fn_higher_order_single_narrow_pass(spark, sf_dir):
    """Lambda-surface contract: one pushed-filter scan, zero exchanges,
    zero Python."""
    from ballista_delta_spark.queries.functions_q import QUERIES

    fn, _ = QUERIES["fn_higher_order"]
    plan = _physical_plan(fn(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "PushedFilters: [IsNotNull(p_partkey)" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_events_seasonal_baseline_broadcast_profile(spark, sf_dir):
    """Seasonal-baseline contract: the 24 x types profile joins back
    BROADCAST (a sort-merge here would shuffle the whole fact by
    (type, hour)); the fact feeds two-phase aggs only."""
    from ballista_delta_spark.queries.pipeline import events_seasonal_baseline

    plan = _physical_plan(events_seasonal_baseline(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the checkpointed profile serves both joins: exactly ONE raw fact
    # scan survives (the flag pass) — pre-fix the profile was re-derived
    # per branch (3 fact scans)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "BatchEvalPython" not in plan, plan


def test_dedup_containment_blocked_equi_join(spark, sf_dir):
    """Containment scale contract: candidates come from the shingle
    inverted index (hash equi-join on the 8-byte blocking key) — never
    an all-pairs nested loop; sizes join back on doc ids."""
    from ballista_delta_spark.queries.dedup import dedup_containment

    plan = _physical_plan(dedup_containment(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # one shingling pass: all three branches serve from the checkpointed
    # inverted index (pre-fix: 4 md5-shingling corpus scans)
    assert "Scan parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan


def test_sim_range_search_no_window_no_exchange(spark, sf_dir):
    """Range-search scale contract: the query set broadcasts over ONE
    corpus scan with a codegen'd threshold filter — no window, no
    exchange anywhere (that's what separates it from top-k); the only
    join is the query-broadcast nested loop, which is O(|q| * N) by
    design with |q| tiny."""
    from ballista_delta_spark.queries.similarity import sim_range_search

    plan = _physical_plan(sim_range_search(spark, sf_dir))
    # the query-set BroadcastExchange is the point; SHUFFLES are forbidden
    assert "Exchange hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_emb_label_drift_single_corpus_agg(spark, sf_dir):
    """Label-drift scale contract: the corpus feeds exactly ONE two-phase
    agg (map-side partials collapse to label x dim before the exchange);
    the global centroid derives from the label sums — the corpus is
    never re-scanned (one parquet scan in the whole plan) — and joins
    back broadcast."""
    from ballista_delta_spark.queries.similarity import emb_label_drift

    plan = _physical_plan(emb_label_drift(spark, sf_dir))
    # the final plan serves BOTH branches from the checkpointed matrix:
    # zero raw-corpus scans survive (the matrix is ExistingRDD)
    assert "Scan parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_events_value_pareto_fact_shuffles_once(spark, sf_dir):
    """Pareto scale contract: the fact shuffles exactly once (user
    grain, two-phase agg); the global ntile order runs over the
    users-sized aggregate, never the raw fact; no SMJ anywhere."""
    from ballista_delta_spark.queries.pipeline import events_value_pareto

    plan = _physical_plan(events_value_pareto(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    # both branches serve from the ONE checkpointed per-user table: no
    # raw-fact scan (or its user_id exchange) survives in the final plan
    assert "Scan parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_asof_forward_is_single_pass_no_nested_loop(spark, sf_dir):
    """The forward as-of must keep J10's zero-join shape: no join
    operator at all, one user_id window pass resolving every match."""
    from ballista_delta_spark.queries.joins import QUERIES

    fn, _ = QUERIES["join_asof_forward"]
    plan = _physical_plan(fn(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_sim_hard_negatives_windowgrouplimit(spark, sf_dir):
    """Hard-negative mining keeps the exact-scan contract: broadcast
    query set, label-mismatch predicate INSIDE the join (matched labels
    never reach the window), WindowGroupLimit below the final exchange,
    no corpus shuffle before the top-k."""
    from ballista_delta_spark.queries.similarity import sim_hard_negatives

    plan = _physical_plan(sim_hard_negatives(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_text_pmi_topk_vocab_broadcast_takeordered(spark, sf_dir):
    """PMI scale contract: the vocabulary-sized unigram relation serves
    all three consumers from one checkpoint and joins back BROADCAST;
    the final cut is a distributed TakeOrderedAndProject — no
    vocab^2-sized global sort, no SMJ."""
    from ballista_delta_spark.queries.text import text_pmi_topk

    plan = _physical_plan(text_pmi_topk(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_events_streaks_one_user_exchange(spark, sf_dir):
    """Gaps-and-islands scale contract: the fact collapses to (user,
    day) grain map-side, then BOTH windows and the final fold reuse ONE
    user-keyed partitioning — a second hash exchange means the islands
    trick re-shuffled; no joins anywhere."""
    from ballista_delta_spark.queries.pipeline import events_streaks

    plan = _physical_plan(events_streaks(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_events_rfm_broadcast_cuts_no_global_sort(spark, sf_dir):
    """RFM scale contract: quintile scoring uses BROADCAST cutpoints
    from a single-row percentile aggregate — never a global ntile
    window over all users (no rangepartitioning, no per-user sort).
    Both scoring branches serve from the checkpointed users-sized
    table: the raw fact never re-scans, and the only hash exchange is
    the 125-cell final fold."""
    from ballista_delta_spark.queries.pipeline import events_rfm

    plan = _physical_plan(events_rfm(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Scan parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_text_zipf_fit_windowgrouplimit_one_vocab_exchange(spark, sf_dir):
    """Zipf-fit scale contract: the rank cut is a WindowGroupLimit
    (local top-200 per task BEFORE the shuffle — the per-lang
    vocabulary is never fully sorted), the corpus shuffles once into
    the vocab-grain aggregate, and no join appears anywhere."""
    from ballista_delta_spark.queries.text import text_zipf_fit

    plan = _physical_plan(text_zipf_fit(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_dedup_survivorship_one_md5_exchange_no_join(spark, sf_dir):
    """Survivorship scale contract: the survivor pick reuses the ONE
    md5-grain partitioning (window over the same exchange dedup_exact
    shuffles on) and never joins back to the corpus; the lang fold is
    the only other exchange."""
    from ballista_delta_spark.queries.dedup import dedup_survivorship

    plan = _physical_plan(dedup_survivorship(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_join_interval_overlap_banded_equi_join(spark, sf_dir):
    """Overlap-join scale contract: the interval self-join runs as a
    bucket EQUI-join (no nested loop, no cartesian), both sides serve
    from the ONE checkpointed user-day span table (the raw fact never
    re-scans), and the dedup-free banding predicate means no
    distinct-pairs exchange appears after the join."""
    from ballista_delta_spark.queries.joins import QUERIES

    fn, _ = QUERIES["join_interval_overlap"]
    plan = _physical_plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Scan parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "Deduplicate" not in plan, plan


def test_corpus_dedup_cascade_composes_pinned_shapes(spark, sf_dir):
    """Cascade integration contract: the funnel reuses its stages'
    pinned plans and adds only id-sized anti-joins — no cartesian or
    nested-loop anywhere, the minhash signature table still serves from
    its checkpoint, and the inlined DuckDB 13-gram expression stays in
    sync with text_decontaminate's generator."""
    from ballista_delta_spark.queries.dedup import QUERIES, corpus_dedup_cascade
    from ballista_delta_spark.queries.pipeline import _shingle_expr

    _, oracle = QUERIES["corpus_dedup_cascade"]
    assert _shingle_expr("duckdb") in oracle

    plan = _physical_plan(corpus_dedup_cascade(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_events_interarrival_fit_one_stream_exchange(spark, sf_dir):
    """Interarrival-fit scale contract: one (user, type) exchange feeds
    the lag window; the type-grain moment fold is two-phase (map-side
    partials), no join, no Python."""
    from ballista_delta_spark.queries.pipeline import events_interarrival_fit

    plan = _physical_plan(events_interarrival_fit(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Window") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_corpus_embedding_audit_equi_join_two_phase(spark, sf_dir):
    """Cross-modal audit contract: the doc-vector match is an EQUI-join
    (hash, never nested-loop/cartesian), norms fold inside codegen (no
    Python), and the lang fold is a two-phase aggregate."""
    from ballista_delta_spark.queries.similarity import corpus_embedding_audit

    plan = _physical_plan(corpus_embedding_audit(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_events_ab_test_single_user_exchange(spark, sf_dir):
    """A/B readout scale contract: one user-grain exchange (variant is
    derived hash arithmetic inside the same aggregate), the 2-row cell
    table serves both the rates and the z-stat from its checkpoint, and
    the z cross is a constant-sized broadcast."""
    from ballista_delta_spark.queries.pipeline import events_ab_test

    plan = _physical_plan(events_ab_test(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Scan parquet") == 0, plan or "fact must be checkpointed upstream"


def test_basket_lift_order_colocated_topk(spark, sf_dir):
    """Basket-mining scale contract: pair generation is an EQUI-join on
    the order key over the ONE checkpointed item table (quadratic only
    in basket size), frequencies broadcast back, the lift cut is a
    distributed TakeOrderedAndProject, and the only nested-loop is the
    1-row order-total broadcast."""
    from ballista_delta_spark.queries.joins import QUERIES

    fn, _ = QUERIES["basket_lift"]
    plan = _physical_plan(fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "Scan parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan


def test_dedup_fuzzy_names_blocked_equi_join(spark, sf_dir):
    """Fuzzy-match scale contract: candidates come from an EQUI-join on
    the blocking key (never an all-pairs nested loop over the name
    dictionary); levenshtein verifies candidates only."""
    from ballista_delta_spark.queries.dedup import dedup_fuzzy_names

    plan = _physical_plan(dedup_fuzzy_names(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "levenshtein" in plan, plan


def test_emb_cluster_purity_zero_join_assignment(spark, sf_dir):
    """Purity-audit scale contract: assignment is the zero-join literal
    -centroid projection (label rides the same scan row); the only
    corpus-fed exchange carries (cell, label) partial counts; the
    majority window runs over that K x labels aggregate."""
    from ballista_delta_spark.queries.similarity import emb_cluster_purity

    plan = _physical_plan(emb_cluster_purity(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_events_conversion_lag_user_partitioning_reuse(spark, sf_dir):
    """Conversion-lag scale contract: the funnel joins reuse one
    user-grain partitioning (no SMJ at bench scale, no cartesian); the
    percentile fold runs over the users-sized lag table."""
    from ballista_delta_spark.queries.pipeline import events_conversion_lag

    plan = _physical_plan(events_conversion_lag(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_sim_rrf_fusion_candidate_sized_fusion(spark, sf_dir):
    """RRF scale contract: fusion joins two O(queries x k) ranking
    tables — the corpus-sized work stays inside the two registered
    tier plans (WindowGroupLimit each); no cartesian anywhere."""
    from ballista_delta_spark.queries.similarity import sim_rrf_fusion

    plan = _physical_plan(sim_rrf_fusion(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_events_ltv_cohort_weeks_bounded_window(spark, sf_dir):
    """LTV-curve scale contract: the cohort map builds once (checkpoint)
    and joins back without re-aggregating the fact; the cumulative
    window runs over the weeks^2-bounded cell aggregate, never the
    fact; no SMJ/cartesian."""
    from ballista_delta_spark.queries.pipeline import events_ltv_cohort

    plan = _physical_plan(events_ltv_cohort(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("Scan parquet") <= 1, plan


def test_graph_triangle_count_equi_joins_over_checkpoint(spark, sf_dir):
    """Triangle-count scale contract: the edge list materializes once
    and all three triangle branches + degrees serve from it; every
    join is an equi-join on node ids (no nested loop except the three
    1-row stat broadcasts)."""
    from ballista_delta_spark.queries.joins import QUERIES

    fn, _ = QUERIES["graph_triangle_count"]
    plan = _physical_plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") >= 4, plan


def test_dq_expectations_anti_joins_no_nested_loop(spark, sf_dir):
    """DQ-suite scale contract: referential-integrity rules are
    (broadcast/shuffled) ANTI equi-joins, never nested loops; every
    other rule is a map-side count over its own scan."""
    from ballista_delta_spark.queries.pipeline import dq_expectations

    plan = _physical_plan(dq_expectations(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_events_scd2_tiers_one_user_exchange(spark, sf_dir):
    """SCD2 scale contract: the weekly aggregate shuffles once WITH
    map-side partials (never a raw-fact repartition), and both windows
    share one user-grain exchange of the aggregate-sized table — two
    exchanges total, exactly one Window node pair, no joins."""
    from ballista_delta_spark.queries.pipeline import events_scd2_tiers

    plan = _physical_plan(events_scd2_tiers(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "BatchEvalPython" not in plan, plan


def test_events_audience_overlap_user_keyed_pairs(spark, sf_dir):
    """Audience-overlap scale contract: the pair join is keyed on
    user_id over the ONE checkpointed (user, type) table; sizes
    broadcast onto the types^2 pair table; no cartesian/NLJ."""
    from ballista_delta_spark.queries.pipeline import events_audience_overlap

    plan = _physical_plan(events_audience_overlap(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Scan parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan


def test_emb_knn_graph_bucketed_self_join(spark, sf_dir):
    """kNN-graph scale contract: the all-vectors pair space is blocked
    by the LSH bucket (equi-self-join over the checkpointed bucketized
    corpus — never a cross join); per-vector top-k is a
    WindowGroupLimit. r15: the join key is the salted (bucket, bi, bj)
    block pair, so the checkpoint now feeds FOUR ExistingRDD branches
    (the per-bucket block-count aggregate, its broadcast copy, and the
    two join sides) — all serve from the one materialized table, never
    a parquet re-scan."""
    from ballista_delta_spark.queries.similarity import emb_knn_graph

    plan = _physical_plan(emb_knn_graph(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 4, plan


def test_events_ewma_chart_days_grid_only(spark, sf_dir):
    """EWMA scale contract: the fact collapses to the (type, day) grain
    in one exchange; the grid self-join runs over the tiny checkpointed
    series (both sides ExistingRDD), never the fact."""
    from ballista_delta_spark.queries.pipeline import events_ewma_chart

    plan = _physical_plan(events_ewma_chart(spark, sf_dir))
    assert "Scan parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_text_tokenizer_fertility_single_pass(spark, sf_dir):
    """Fertility scale contract: both token counts ride one narrow
    codegen'd pass (no explode), one lang-grain exchange."""
    from ballista_delta_spark.queries.text import text_tokenizer_fertility

    plan = _physical_plan(text_tokenizer_fertility(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_events_survival_curve_ages_grid_windows(spark, sf_dir):
    """Survival scale contract: the fact folds to per-user (first,
    last) once (checkpointed — the anchor and age branches reuse it);
    the at-risk/KM windows run over the ages-sized grid only."""
    from ballista_delta_spark.queries.pipeline import events_survival_curve

    plan = _physical_plan(events_survival_curve(spark, sf_dir))
    assert "Scan parquet" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_events_peak_concurrency_per_day_sweep(spark, sf_dir):
    """Sweep-line scale contract: the fact folds to user-day spans in
    one exchange; the running sum partitions BY DAY (independent
    bounded sorts — never a global rangepartitioning sort); no joins."""
    from ballista_delta_spark.queries.pipeline import events_peak_concurrency

    plan = _physical_plan(events_peak_concurrency(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_events_behavior_entropy_reuses_user_partitioning(spark, sf_dir):
    """Behavior-entropy scale contract: the (user, type) aggregate, the
    total window, and the user fold ride user-keyed partitionings with
    no join anywhere."""
    from ballista_delta_spark.queries.pipeline import events_behavior_entropy

    plan = _physical_plan(events_behavior_entropy(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_sim_mmr_rerank_candidate_sized(spark, sf_dir):
    """MMR scale contract: the redundancy cosine joins candidate ids
    back to the corpus by id (no cartesian, no corpus² pair space);
    the top-k feeding it serves from its checkpoint."""
    from ballista_delta_spark.queries.similarity import sim_mmr_rerank

    plan = _physical_plan(sim_mmr_rerank(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_agg_winsorized_mean_broadcast_fences(spark, sf_dir):
    """Robust-mean scale contract: the fences come from one per-group
    percentile aggregate and join back BROADCAST (no SMJ); the fact
    never self-joins."""
    from ballista_delta_spark.queries.aggregates import agg_winsorized_mean

    plan = _physical_plan(agg_winsorized_mean(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_scan_delta_or_pushdown_prunes_files_before_listing(spark, sf_dir):
    """scan_delta_or_pushdown: the q19-shaped disjunction must prune
    Delta files from STATS before Spark lists them — the scan's file set
    is a strict subset of the table's, and the result stays exact."""
    from ballista_delta_spark.queries.scans import (
        _orders_delta_ranged,
        scan_delta_or_pushdown,
    )
    from ballista_delta_spark.sources.delta import _load_snapshot, skip_files

    path = _orders_delta_ranged(spark, sf_dir)
    snap = _load_snapshot(path)
    pred = (
        "(o_orderkey >= 256 AND o_orderkey < 1024 "
        "AND o_totalprice > 120000) "
        "OR (o_orderkey >= 4096 AND o_orderkey < 4608 "
        "AND o_totalprice < 50000)"
    )
    kept = skip_files(snap, pred)
    assert 0 < len(kept) < len(snap.files), (len(kept), len(snap.files))
    # exactness end-to-end: pruned Delta scan == unpruned parquet filter
    got = scan_delta_or_pushdown(spark, sf_dir).count()
    want = (
        spark.read.parquet(f"{sf_dir}/orders.parquet").where(pred).count()
    )
    assert got == want and got > 0


def test_dedup_url_canonical_is_two_phase_no_join(spark, sf_dir):
    """URL dedup scale contract: canonicalization is a single codegen'd
    narrow pass over a PRUNED scan (doc_id + source only — never the
    document text), and the rollup collapses to (domain, canon_url)
    grain before the per-domain aggregate, so the shuffle payload is one
    row per distinct URL. No join anywhere."""
    from ballista_delta_spark.queries.dedup import dedup_url_canonical

    plan = _physical_plan(dedup_url_canonical(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") <= 2, plan
    # column pruning: the scan must not read text/lang/n_chars
    assert "text" not in plan and "n_chars" not in plan, plan


def test_text_bpe_merge_step_is_vocab_grain_join_free(spark, sf_dir):
    """BPE trainer scale contract: the returned frame reads the
    localCheckpointed VOCAB-grain segmentation (not the corpus), the
    chosen merge is an inlined literal (driver-feedback pattern — no
    join, no NLJ), and the only exchanges are the pair aggregate and the
    top-20 global window."""
    from ballista_delta_spark.queries.text import text_bpe_merge_step

    df = text_bpe_merge_step(spark, sf_dir)
    plan = _physical_plan(df)
    assert "Join" not in plan, plan
    assert "Scan parquet" not in plan, plan  # vocab grain, checkpointed
    assert "ExistingRDD" in plan, plan
    assert plan.count("Exchange") <= 2, plan
    # determinism of the merge choice: ties broken lexicographically
    rows = df.collect()
    assert len({r["merged_pair"] for r in rows}) == 1
    assert [r["rnk"] for r in sorted(rows, key=lambda r: r["rnk"])] == list(
        range(1, len(rows) + 1)
    )


def test_fn_url_parse_is_single_narrow_pass(spark, sf_dir):
    """URL extraction scale contract: one codegen'd projection over a
    scan PRUNED to doc_id + source (never the document text), zero
    exchanges, zero joins, no Python anywhere."""
    from ballista_delta_spark.queries.functions_q import fn_url_parse

    plan = _physical_plan(fn_url_parse(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "text" not in plan and "n_chars" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_events_holt_level_step_single_fact_exchange(spark, sf_dir):
    """Holt step scale contract: the fact table is read once and folds
    to the daily grid in ONE map-side-partial exchange; the state pick
    (y0/y1 via conditional agg) and the update run at event_type grain
    — the only other exchange is the tiny grid's window/agg pair. No
    join, no Python."""
    from ballista_delta_spark.queries.pipeline import events_holt_level_step

    plan = _physical_plan(events_holt_level_step(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    # daily fold + grid window + event_type agg: tiny-side exchanges are
    # grid-sized, the fact contributes exactly one
    assert plan.count("Exchange") <= 3, plan
    assert "partial_" in plan.lower() or "partial" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
