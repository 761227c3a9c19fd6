"""Focused pins for the r15 optimization-round changes.

Each test pins an internals change made for performance so a future edit
cannot silently undo it:

- Hash-not-text exchanges (guide §2.3, VERDICT r14 #5): the text/dedup
  rollups whose string identity is internal-only must key every shuffle
  exchange on an 8-byte fingerprint — a string-typed hash exchange key
  in those plans means raw text is crossing the wire again.
- text_decontaminate's 13-gram fingerprint is xxhash64 (8-byte long),
  not a 32-char md5 hex string, and the short-doc guard still yields
  ZERO shingle rows (not a NULL row) for docs under 13 tokens.
- emb_pq_topk builds its sub-space distance tables as ONE
  transform/aggregate fold per sub-space instead of M*KC unrolled
  chains (plan_s was paying ~0.6 s of catalyst analysis per build).
- The session surfaces adaptive.coalescePartitions.initialPartitionNum
  (local default = cores; production over-splits via
  $SPARK_GRAFT_INITIAL_PARTS) because AQE never splits a non-skewed
  exchange UP (VERDICT r14 #2) — and caps wholestage codegen at the
  JIT's huge-method limit so oversized fused stages JIT instead of
  running interpreted.
"""

from __future__ import annotations

import os

import pytest

from ballista_delta_spark.session import build_spark, default_cpus, get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_round15_perf")


def _exchange_key_types(df) -> list[tuple[str, str]]:
    """(key expr, key type) over every shuffle exchange in the physical
    plan, walked over py4j (the textual plan does not print key types).
    Mirrors tools/plan_sweep.py."""
    out: list[tuple[str, str]] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if "ShuffleExchange" in cls:
            part = node.outputPartitioning()
            pcls = part.getClass().getSimpleName()
            if pcls in ("HashPartitioning", "RangePartitioning"):
                exprs = (
                    part.expressions()
                    if pcls == "HashPartitioning"
                    else part.ordering()
                )
                for i in range(exprs.size()):
                    e = exprs.apply(i)
                    if pcls == "RangePartitioning":
                        e = e.child()
                    out.append((e.toString(), e.dataType().simpleString()))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))
        if cls == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_text_rollups_shuffle_hashes_not_text(spark):
    """The ids rewritten for VERDICT r14 #5: every hash/range exchange
    key must be non-string. (Exchanges that legitimately carry text —
    low-cardinality output dimensions like lang/source — do not appear
    in these plans at all.)"""
    from ballista_delta_spark.queries.dedup import dedup_survivorship
    from ballista_delta_spark.queries.pipeline import (
        text_bigram_logprob,
        text_ccnet_bucket,
        text_tfidf_topk,
        text_unigram_logprob,
    )
    from ballista_delta_spark.queries.text import QUERIES as TEXT_QS

    targets = {
        "text_bigram_logprob": text_bigram_logprob,
        "text_unigram_logprob": text_unigram_logprob,
        "text_ccnet_bucket": text_ccnet_bucket,
        "text_tfidf_topk": text_tfidf_topk,
        "text_repetition": TEXT_QS["text_repetition"][0],
        "dedup_survivorship": dedup_survivorship,
    }
    for name, fn in targets.items():
        keys = _exchange_key_types(fn(spark, SF))
        # dedup_survivorship's lang fold is its OUTPUT dimension — a
        # low-cardinality string the query legitimately groups by; the
        # pin is about the corpus-grain fingerprint exchanges.
        bad = [
            (k, t)
            for k, t in keys
            if t == "string" and not k.startswith("lang")
        ]
        assert not bad, (name, bad, keys)


def test_decontaminate_shingles_are_longs(spark, tmp_path):
    from pyspark.sql import functions as F

    from ballista_delta_spark.queries.pipeline import (
        _shingle_expr,
        text_decontaminate,
    )

    # fingerprint type: BIGINT, and the spark dialect carries no md5
    assert "xxhash64" in _shingle_expr("spark")
    assert "md5" not in _shingle_expr("spark")
    toks = spark.sql("SELECT array('a','b') AS toks")
    s = toks.select(F.expr(_shingle_expr("spark")).alias("sh")).schema[
        "sh"
    ]
    assert s.dataType.simpleString() == "array<bigint>"

    # short-doc guard: a 2-token doc yields ZERO shingle rows after the
    # explode (a NULL row here would count as a shared "shingle" of
    # every short doc); the doc must come through uncontaminated.
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array(list(range(12)), pa.int64()),
            "text": pa.array(
                ["w%d " % i + "common words here" for i in range(10)]
                + ["tiny doc", "another tiny"],
                pa.string(),
            ),
            "lang": pa.array(["en"] * 12, pa.string()),
            "source": pa.array(["src0"] * 12, pa.string()),
            "n_chars": pa.array([10] * 12, pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r.contaminated
        for r in text_decontaminate(spark, str(tmp_path)).collect()
    }
    assert out == {10: False, 11: False}


def test_pq_subdistances_are_hof_folds(spark):
    from ballista_delta_spark.queries.similarity import emb_pq_topk

    plan = emb_pq_topk(spark, SF)._jdf.queryExecution().executedPlan().toString()
    # the code/query distance tables must be transform/aggregate folds
    # over the codebook literal, not unrolled per-entry chains
    assert "transform(" in plan, plan[:2000]
    assert "aggregate(" in plan, plan[:2000]


def test_events_stream_stages_directory_fixtures(spark, tmp_path):
    """A directory-form events table (the tiled sf1 perf fixture) must
    stage its LEAF part files for the file-stream source — a symlinked
    subdirectory is silently invisible to it (zero files, zero rows),
    which mis-measured the sf1 stream bench as ~0.2 s no-ops."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ballista_delta_spark.queries.streaming_q import _events_dir

    src = tmp_path / "events.parquet"
    src.mkdir()
    t = pa.table({"event_id": pa.array([1, 2], pa.int64())})
    pq.write_table(t, str(src / "part-000.parquet"))
    pq.write_table(t, str(src / "part-001.parquet"))
    staged = _events_dir(str(tmp_path))
    files = sorted(os.listdir(staged))
    assert len(files) == 2 and all(f.endswith(".parquet") for f in files)
    assert all(os.path.isfile(os.path.join(staged, f)) for f in files)


def test_events_stream_staging_is_sorted_and_refuses_empty(tmp_path, monkeypatch):
    """Leaf staging walks directories in sorted order whatever order the
    filesystem lists them in, and a directory fixture holding no parquet
    file raises instead of staging an empty stream."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ballista_delta_spark.queries.streaming_q import _events_dir

    src = tmp_path / "events.parquet"
    for sub in ("a", "b", "c"):
        (src / sub).mkdir(parents=True)
        pq.write_table(
            pa.table({"event_id": pa.array([1], pa.int64())}),
            str(src / sub / "part-000.parquet"),
        )
    real_walk = os.walk

    def reversed_walk(*a, **kw):
        # list subdirectories in reverse order, as a filesystem may
        for root, dirs, files in real_walk(*a, **kw):
            dirs.sort(reverse=True)
            yield root, dirs, files

    monkeypatch.setattr(os, "walk", reversed_walk)
    staged = _events_dir(str(tmp_path))
    links = [
        os.path.basename(os.path.dirname(os.readlink(os.path.join(staged, f))))
        for f in sorted(os.listdir(staged))
    ]
    assert links == ["a", "b", "c"]

    empty = tmp_path / "empty"
    (empty / "events.parquet" / "a").mkdir(parents=True)
    with pytest.raises(FileNotFoundError, match="no parquet files"):
        _events_dir(str(empty))


def test_session_oversplits_initial_shuffle_partitions():
    n = default_cpus()
    opts = {
        str(k): str(v)
        for k, v in build_spark("probe")._options.items()
    }
    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    # local default = cores (a 4x local default cost a measured +15% on
    # the sf0.1 suite — tiny-task overhead on the eager-checkpoint ids);
    # production over-splits via the env knob below.
    assert opts[key] == str(n)
    # ... and wholestage methods cap at the JVM JIT's huge-method
    # threshold, so oversized fused stages demote to split, JIT-able
    # code instead of running interpreted forever (8.5x on the sf1
    # kNN pair loop).
    assert opts["spark.sql.codegen.hugeMethodLimit"] == "8000"
    os.environ["SPARK_GRAFT_INITIAL_PARTS"] = "999"
    try:
        opts = {
            str(k): str(v)
            for k, v in build_spark("probe")._options.items()
        }
        assert opts[key] == "999"
    finally:
        del os.environ["SPARK_GRAFT_INITIAL_PARTS"]
