"""Regression tests for the four ADVICE-r12 findings:

1. `_CaseFoldedViews` folds EVERY mutation path (del/update/setdefault),
   not just __setitem__ — an unfolded path would reintroduce the
   stale-DML-route bug the class exists to prevent.
2. `_shingle_spread` parses the 'p' byte suffix and warns (instead of
   silently defaulting) on an unparseable maxPartitionBytes value.
3. `_http_serve` keeps the server object and registers an atexit reaper
   so sockets/threads are closed at process exit.
4. `cleanup_log` no longer loads the full snapshot — a light
   protocol/config read serves both the retention default and the
   checkpointProtection gate.
"""

from __future__ import annotations

import os

import pytest

from ballista_delta_spark.sources.delta import write_delta


# ------------------------------------------------- 1. _CaseFoldedViews
def test_case_folded_views_mutation_paths_all_fold():
    from ballista_delta_spark.session import _CaseFoldedViews

    v = _CaseFoldedViews()
    v["Sales"] = "/a"
    # __delitem__ folds
    del v["SALES"]
    assert "sales" not in v and len(v) == 0
    # update folds — both dict-arg and kwargs forms
    v.update({"Orders": "/o"}, Events="/e")
    assert v["ORDERS"] == "/o" and v["events"] == "/e"
    assert set(v.keys()) == {"orders", "events"}
    # setdefault folds: the mixed-case key must hit the existing entry
    assert v.setdefault("OrDeRs", "/other") == "/o"
    assert v.setdefault("New", "/n") == "/n"
    assert v["new"] == "/n"


# ------------------------------------------------- 2. _shingle_spread
def test_shingle_spread_parses_p_suffix_and_warns_on_garbage(spark, sf_dir):
    import warnings

    from ballista_delta_spark.queries.dedup import _shingle_spread

    orig = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # '1p' = 2**50 bytes: everything is smaller -> spread to width
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1p")
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # a warn here would be a bug
            assert (
                _shingle_spread(spark, sf_dir)
                == spark.sparkContext.defaultParallelism
            )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", orig)

    # garbage spelling -> loud warning, 128 MiB fallback. Spark's own conf
    # validation refuses to STORE a bad value, so drive the parser with a
    # stub session (the guard matters for configs read from files/env).
    class _Conf:
        def get(self, *_a):
            return "12banana"

    class _SC:
        defaultParallelism = 8

    class _Stub:
        conf = _Conf()
        sparkContext = _SC()

    with pytest.warns(UserWarning, match="maxPartitionBytes"):
        _shingle_spread(_Stub(), sf_dir)


# ------------------------------------------------- 3. _http_serve reaper
def test_http_serve_caches_server_and_reaper_closes_it(tmp_path):
    import urllib.request

    from ballista_delta_spark.queries import scans

    d = str(tmp_path)
    with open(os.path.join(d, "x.txt"), "w") as fh:
        fh.write("hello")
    base = scans._http_serve(d)
    assert scans._http_serve(d) == base  # cached
    ent = scans._HTTP_SERVERS[d]
    assert ent[0] == base and hasattr(ent[1], "shutdown")
    with urllib.request.urlopen(f"{base}/x.txt", timeout=5) as resp:
        assert resp.read() == b"hello"
    # The reaper closes the socket and clears the cache; a fresh call
    # boots a fresh server rather than returning a dead endpoint.
    scans._shutdown_http_servers()
    assert d not in scans._HTTP_SERVERS
    base2 = scans._http_serve(d)
    with urllib.request.urlopen(f"{base2}/x.txt", timeout=5) as resp:
        assert resp.read() == b"hello"
    scans._shutdown_http_servers()


# ------------------------------------------------- 4. cleanup_log light read
def test_cleanup_log_does_not_load_snapshot(spark, tmp_path, monkeypatch):
    """With retention explicit AND with it defaulted from table config,
    cleanup_log must work without a full snapshot load — the light
    protocol/config reader is enough for both gates."""
    import ballista_delta_spark.sources.delta as D

    tbl = str(tmp_path / "t")
    write_delta(spark.range(3).selectExpr("id AS k"), tbl)
    write_delta(spark.range(3, 6).selectExpr("id AS k"), tbl, mode="append")
    D.alter_properties(
        spark, tbl,
        set_props={"delta.logRetentionDuration": "interval 0 days"},
    )
    assert D.create_checkpoint(tbl) == 2

    def boom(*a, **k):
        raise AssertionError("cleanup_log must not load the snapshot")

    monkeypatch.setattr(D, "_load_snapshot", boom)
    # defaulted retention comes from the table property via the light read
    gone = D.cleanup_log(tbl)
    assert gone and all(int(g.split(".")[0]) < 2 for g in gone)
    monkeypatch.undo()
    assert D.read_delta(spark, tbl).count() == 6


def test_protocol_and_config_matches_snapshot(spark, tmp_path):
    """The light reader agrees with the full snapshot on writerFeatures
    and configuration — across a checkpoint boundary AND a post-checkpoint
    property change in the JSON tail."""
    import ballista_delta_spark.sources.delta as D

    tbl = str(tmp_path / "t")
    write_delta(spark.range(4).selectExpr("id AS k"), tbl)
    D.alter_properties(
        spark, tbl,
        set_props={
            "delta.feature.checkpointProtection": "supported",
            "delta.requireCheckpointProtectionBeforeVersion": "1",
        },
    )
    D.create_checkpoint(tbl)
    # tail change after the checkpoint: the light read must see it
    D.alter_properties(
        spark, tbl, set_props={"delta.logRetentionDuration": "interval 7 days"}
    )
    wf, conf = D._protocol_and_config(tbl)
    snap = D._load_snapshot(tbl)
    assert sorted(wf) == sorted(snap.writer_features)
    assert conf == snap.configuration
    assert conf["delta.logRetentionDuration"] == "interval 7 days"
    assert "checkpointProtection" in wf


def test_cleanup_log_protection_gate_via_light_read(spark, tmp_path):
    """The checkpointProtection gate still holds with the snapshot-free
    path: boundary below the protected version reaps nothing."""
    import ballista_delta_spark.sources.delta as D

    tbl = str(tmp_path / "t")
    write_delta(spark.range(3).selectExpr("id AS k"), tbl)
    write_delta(spark.range(3, 6).selectExpr("id AS k"), tbl, mode="append")
    assert D.create_checkpoint(tbl) == 1
    write_delta(spark.range(6, 9).selectExpr("id AS k"), tbl, mode="append")
    D.alter_properties(
        spark, tbl,
        set_props={
            "delta.feature.checkpointProtection": "supported",
            "delta.requireCheckpointProtectionBeforeVersion": "3",
        },
    )
    assert D.cleanup_log(tbl, retention_ms=0) == []
    assert os.path.exists(
        os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    )


# --------------------------------------- 5. _next_version after compaction
def test_append_after_compaction_cleanup_does_not_reuse_versions(
    spark, tmp_path
):
    """Version resolution must honor every log artifact: once a compacted
    range's individual commits are cleaned away, a new append must commit
    at range-end + 1 — the old .json-only listing silently RE-USED v1 and
    spliced the new commit into the middle of history."""
    import ballista_delta_spark.sources.delta as D

    tbl = str(tmp_path / "t")
    write_delta(spark.range(3).selectExpr("id AS k"), tbl)           # v0
    write_delta(
        spark.range(3, 6).selectExpr("id AS k"), tbl, mode="append"  # v1
    )
    write_delta(
        spark.range(6, 9).selectExpr("id AS k"), tbl, mode="append"  # v2
    )
    D.compact_log(tbl, 1, 2)
    log = os.path.join(tbl, "_delta_log")
    for v in (1, 2):
        for ext in ("json", "crc"):
            f = os.path.join(log, f"{v:020d}.{ext}")
            if os.path.exists(f):
                os.remove(f)
    assert D._next_version(log) == 3
    write_delta(
        spark.range(9, 12).selectExpr("id AS k"), tbl, mode="append"  # v3
    )
    assert os.path.exists(os.path.join(log, f"{3:020d}.json"))
    snap = D._load_snapshot(tbl)
    assert snap.version == 3
    got = sorted(r.k for r in D.read_delta(spark, tbl).collect())
    assert got == list(range(12))


# ----------------------------- 6. whitespace-robust AND/OR pruning
def test_multiline_or_predicate_stays_exact_end_to_end(spark, tmp_path):
    """The review repro: a newline-separated OR used to be mis-split into
    AND conjuncts, pruning files unsoundly and silently dropping rows."""
    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        read_delta,
        skip_files,
        write_delta,
    )

    path = str(tmp_path / "t")
    df = spark.range(10_000).selectExpr(
        "id AS k", "id % 7 AS v"
    ).repartitionByRange(10, "k")
    write_delta(df, path, mode="overwrite")
    pred = "k = 5 AND v >= 0\nOR k = 9105"
    # SQL semantics: AND binds tighter -> (k=5 AND v>=0) OR k=9105 -> 2 rows
    got = read_delta(spark, path, where=pred)
    assert got.count() == 2
    assert sorted(r.k for r in got.collect()) == [5, 9105]
    # and the pruning is genuinely disjunctive (subset of files survive)
    snap = _load_snapshot(path)
    assert 0 < len(skip_files(snap, pred)) < len(snap.files)


# ----------------------------- 7. light reader over compacted gaps
def test_protocol_and_config_sees_through_compacted_gap(spark, tmp_path):
    """The review repro: the tail walk used to break at the first missing
    commit, making properties set AFTER a compacted-and-cleaned range
    invisible to cleanup_log (which would then reap protected history)."""
    import ballista_delta_spark.sources.delta as D

    tbl = str(tmp_path / "t")
    write_delta(spark.range(3).selectExpr("id AS k"), tbl)           # v0
    assert D.create_checkpoint(tbl) == 0
    write_delta(spark.range(3, 6).selectExpr("id AS k"), tbl, mode="append")
    write_delta(spark.range(6, 9).selectExpr("id AS k"), tbl, mode="append")
    D.compact_log(tbl, 1, 2)
    log = os.path.join(tbl, "_delta_log")
    for v in (1, 2):
        for ext in ("json", "crc"):
            f = os.path.join(log, f"{v:020d}.{ext}")
            if os.path.exists(f):
                os.remove(f)
    D.alter_properties(                                              # v3
        spark, tbl,
        set_props={
            "delta.feature.checkpointProtection": "supported",
            "delta.requireCheckpointProtectionBeforeVersion": "3",
            "delta.logRetentionDuration": "interval 7 days",
        },
    )
    wf, conf = D._protocol_and_config(tbl)
    snap = D._load_snapshot(tbl)
    assert sorted(wf) == sorted(snap.writer_features)
    assert conf == snap.configuration
    assert "checkpointProtection" in wf
    assert conf["delta.logRetentionDuration"] == "interval 7 days"
    # and the gate actually holds: boundary (v0) < protected (3) -> noop
    assert D.cleanup_log(tbl, retention_ms=0) == []


def test_protocol_and_config_checkpoint_fallbacks(spark, tmp_path):
    """Missing checkpoint file + complete JSON log -> full-replay
    fallback (parity with _load_snapshot); missing checkpoint + cleaned
    log -> loud error, never a silent empty result."""
    import glob as _glob

    import ballista_delta_spark.sources.delta as D

    tbl = str(tmp_path / "t")
    write_delta(spark.range(3).selectExpr("id AS k"), tbl)
    D.alter_properties(
        spark, tbl,
        set_props={"delta.logRetentionDuration": "interval 9 days"},
    )
    D.create_checkpoint(tbl)
    log = os.path.join(tbl, "_delta_log")
    for f in _glob.glob(os.path.join(log, "*.checkpoint*")):
        os.remove(f)
    # full JSON log survives: light read falls back to JSON replay
    wf, conf = D._protocol_and_config(tbl)
    assert conf["delta.logRetentionDuration"] == "interval 9 days"
    # now ALSO remove v0: incomplete log + missing checkpoint must raise
    os.remove(os.path.join(log, f"{0:020d}.json"))
    with pytest.raises(ValueError, match="checkpoint"):
        D._protocol_and_config(tbl)


# ------------------------- 8. second review pass (r12) regression pins
def test_case_folded_views_init_and_ior_fold():
    from ballista_delta_spark.session import _CaseFoldedViews

    v = _CaseFoldedViews({"Orders": "/o"}, Events="/e")
    assert v["ORDERS"] == "/o" and v["events"] == "/e"
    v |= {"Sales": "/a"}
    assert v["sales"] == "/a"
    assert set(v) == {"orders", "events", "sales"}


def test_malformed_compaction_name_is_ignored_not_fatal(spark, tmp_path):
    """A compaction-like file without an end-version segment (foreign or
    buggy writer) must be skipped by version resolution and never deleted
    by cleanup — not crash every subsequent commit."""
    import ballista_delta_spark.sources.delta as D

    tbl = str(tmp_path / "t")
    write_delta(spark.range(3).selectExpr("id AS k"), tbl)
    log = os.path.join(tbl, "_delta_log")
    bad = os.path.join(log, f"{3:020d}.compacted.json")
    open(bad, "w").write("")
    assert D._next_version(log) == 1
    write_delta(spark.range(3, 6).selectExpr("id AS k"), tbl, mode="append")
    D.create_checkpoint(tbl)
    D.cleanup_log(tbl, retention_ms=0)
    assert os.path.exists(bad)
    assert D.read_delta(spark, tbl).count() == 6


# ------------------------- 9. third review pass (r12) regression pins
def test_double_quoted_literal_predicate_stays_exact(spark, tmp_path):
    """End-to-end: a predicate whose double-quoted literal CONTAINS
    'AND <cmp>' text must not prune the files holding its matches."""
    from ballista_delta_spark.sources.delta import read_delta, write_delta

    path = str(tmp_path / "t")
    write_delta(
        spark.range(100).selectExpr(
            "id AS k",
            "CASE WHEN id = 42 THEN 'x AND 9 > k AND y' ELSE 'z' END AS s",
        ).repartitionByRange(4, "k"),
        path, mode="overwrite",
    )
    got = read_delta(spark, path, where='s = "x AND 9 > k AND y"')
    assert [r.k for r in got.collect()] == [42]


def test_backwards_compacted_range_is_ignored_not_infinite(spark, tmp_path):
    """A compaction file whose end version precedes its start (foreign
    writer) must be ignored — following it would walk the replay
    BACKWARDS forever."""
    import ballista_delta_spark.sources.delta as D

    tbl = str(tmp_path / "t")
    write_delta(spark.range(3).selectExpr("id AS k"), tbl)
    for lo in (3, 6):
        write_delta(
            spark.range(lo, lo + 3).selectExpr("id AS k"), tbl,
            mode="append",
        )
    log = os.path.join(tbl, "_delta_log")
    open(os.path.join(log, f"{2:020d}.{1:020d}.compacted.json"), "w").write("")
    assert D._compacted_ranges(log) == {}
    assert D._load_snapshot(tbl).version == 2
    assert D.read_delta(spark, tbl).count() == 9
    wf, conf = D._protocol_and_config(tbl)  # tail walk must terminate
    assert conf == D._load_snapshot(tbl).configuration


def test_fully_wrapped_predicate_still_prunes(spark, tmp_path):
    """skip_files unwraps the whole predicate once: '(k = 5 OR k = 950)'
    prunes exactly like its unwrapped form."""
    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        skip_files,
        write_delta,
    )

    path = str(tmp_path / "t")
    write_delta(
        spark.range(1000).selectExpr("id AS k").repartitionByRange(10, "k"),
        path, mode="overwrite",
    )
    snap = _load_snapshot(path)
    plain = set(skip_files(snap, "k = 5 OR k = 950"))
    wrapped = set(skip_files(snap, "(k = 5 OR k = 950)"))
    assert plain == wrapped and 0 < len(wrapped) < len(snap.files)
    conj = set(skip_files(snap, "(k >= 100 AND k < 200)"))
    assert 0 < len(conj) < len(snap.files)


def test_compaction_shape_rule_is_shared_and_strict(spark, tmp_path):
    """ONE shape rule for compaction names across _compacted_ranges,
    _next_version, and cleanup_log: a lax end segment ('...3.5.compacted
    .json') once made _next_version skip ahead to a version replay can't
    reach — committing invisible data."""
    import ballista_delta_spark.sources.delta as D

    assert D._compaction_range_name(f"{3:020d}.{5:020d}.compacted.json") \
        == (3, 5)
    assert D._compaction_range_name(f"{3:020d}.5.compacted.json") is None
    assert D._compaction_range_name(f"{5:020d}.{3:020d}.compacted.json") \
        is None
    assert D._compaction_range_name("x.y.compacted.json") is None

    tbl = str(tmp_path / "t")
    write_delta(spark.range(3).selectExpr("id AS k"), tbl)           # v0
    write_delta(spark.range(3, 6).selectExpr("id AS k"), tbl, mode="append")
    write_delta(spark.range(6, 9).selectExpr("id AS k"), tbl, mode="append")
    log = os.path.join(tbl, "_delta_log")
    bad = os.path.join(log, f"{3:020d}.5.compacted.json")
    open(bad, "w").write("")
    # the lax copy returned 6 here — a gap replay can never cross
    assert D._next_version(log) == 3
    write_delta(spark.range(9, 12).selectExpr("id AS k"), tbl, mode="append")
    assert D.read_delta(spark, tbl).count() == 12  # v3 visible
    # and cleanup never deletes the foreign artifact
    D.create_checkpoint(tbl)
    D.cleanup_log(tbl, retention_ms=0)
    assert os.path.exists(bad)
