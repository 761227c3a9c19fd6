"""Round-4 defect fixes (VERDICT r3 "What's wrong" #1-#5).

Each test pins a previously-wrong behavior path:
1. Delta protocol v3 with supported readerFeatures must be READABLE.
2. Insert-only MERGE must not scan/rewrite matched files nor raise ambiguity.
3. Streaming run must raise on timeout / failed query, not return partials.
4. DML file attribution must survive symlinked roots + percent-encoded paths.
5. Label propagation must raise on non-convergence, not split clusters.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ballista_delta_spark.sources.delta import read_delta, write_delta
from ballista_delta_spark.sources.delta_dml import delete_delta, merge_delta


def _rewrite_protocol(tbl: str, protocol: dict) -> None:
    log0 = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    with open(log0) as fh:
        actions = [json.loads(line) for line in fh]
    for a in actions:
        if "protocol" in a:
            a["protocol"] = protocol
    with open(log0, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in actions)


class TestReaderProtocolV3:
    def test_v3_with_supported_features_is_readable(self, spark, sf_dir, tmp_path):
        tbl = str(tmp_path / "t")
        write_delta(spark.read.parquet(os.path.join(sf_dir, "nation.parquet")), tbl)
        n = read_delta(spark, tbl).count()
        _rewrite_protocol(tbl, {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz", "v2Checkpoint"],
            "writerFeatures": ["timestampNtz"],
        })
        assert read_delta(spark, tbl).count() == n

    def test_v3_with_empty_features_is_readable(self, spark, sf_dir, tmp_path):
        tbl = str(tmp_path / "t")
        write_delta(spark.read.parquet(os.path.join(sf_dir, "nation.parquet")), tbl)
        _rewrite_protocol(tbl, {"minReaderVersion": 3, "minWriterVersion": 7,
                                "readerFeatures": []})
        assert read_delta(spark, tbl).count() == 25

    def test_v3_with_unsupported_feature_raises(self, spark, sf_dir, tmp_path):
        # deletionVectors moved to the supported set in round 6 (dv.py) —
        # a genuinely-unknown feature must still refuse the read.
        tbl = str(tmp_path / "t")
        write_delta(spark.read.parquet(os.path.join(sf_dir, "nation.parquet")), tbl)
        _rewrite_protocol(tbl, {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["variantType-preview", "timestampNtz"],
        })
        with pytest.raises(ValueError, match="variantType"):
            read_delta(spark, tbl)


class TestInsertOnlyMerge:
    @pytest.fixture()
    def tbl(self, spark, sf_dir, tmp_path):
        p = str(tmp_path / "nation_m")
        write_delta(spark.read.parquet(os.path.join(sf_dir, "nation.parquet")), p)
        return p

    def test_no_rewrite_and_no_spurious_data_change(self, spark, tbl):
        src = spark.createDataFrame(
            [(3, "X", 1, "dup-of-existing"), (99, "NEWLAND", 1, "fresh")],
            "n_nationkey int, n_name string, n_regionkey int, n_comment string",
        )
        m = merge_delta(spark, tbl, src, "t.n_nationkey = s.n_nationkey")
        assert m["numTargetRowsInserted"] == 1
        assert m["numTargetRowsUpdated"] == 0
        # The matched file is left in place: no removes, one insert add.
        assert m["numRemovedFiles"] == 0
        assert m["numAddedFiles"] == 1
        back = read_delta(spark, tbl)
        assert back.count() == 26
        # Matched row untouched (not replaced by the source version).
        assert back.filter("n_nationkey = 3").first()["n_name"] != "X"
        # Commit log carries no remove actions (CDC readers see pure insert).
        log1 = os.path.join(tbl, "_delta_log", f"{1:020d}.json")
        with open(log1) as fh:
            kinds = [next(iter(json.loads(ln))) for ln in fh if ln.strip()]
        assert "remove" not in kinds

    def test_duplicate_source_matches_are_not_ambiguous(self, spark, tbl):
        # Two source rows match target nationkey=3: an update/delete merge
        # must raise, but an insert-only merge just skips both (delta-spark
        # whenNotMatchedInsert semantics).
        src = spark.createDataFrame(
            [(3, "A", 1, "c1"), (3, "B", 1, "c2"), (77, "NEW", 2, "c3")],
            "n_nationkey int, n_name string, n_regionkey int, n_comment string",
        )
        m = merge_delta(spark, tbl, src, "t.n_nationkey = s.n_nationkey")
        assert m["numTargetRowsInserted"] == 1
        assert read_delta(spark, tbl).count() == 26
        # Same source WITH an update clause still raises.
        with pytest.raises(ValueError, match="ambiguous"):
            merge_delta(
                spark, tbl, src, "t.n_nationkey = s.n_nationkey",
                matched_update={"n_name": "s.n_name"},
            )


class TestStreamingAwait:
    class _FakeQuery:
        def __init__(self, finished: bool, exc: Exception | None = None):
            self._finished, self._exc, self.stopped = finished, exc, False

        def awaitTermination(self, timeout):
            return self._finished

        def exception(self):
            return self._exc

        def stop(self):
            self.stopped = True

    def test_timeout_raises_and_stops(self):
        from ballista_delta_spark.queries.streaming_q import _await_completion

        q = self._FakeQuery(finished=False)
        with pytest.raises(TimeoutError, match="did not terminate"):
            _await_completion(q, "q1", timeout=1)
        assert q.stopped

    def test_failed_query_raises_its_exception(self):
        from ballista_delta_spark.queries.streaming_q import _await_completion

        boom = RuntimeError("stream boom")
        q = self._FakeQuery(finished=True, exc=boom)
        with pytest.raises(RuntimeError, match="stream boom"):
            _await_completion(q, "q2", timeout=1)

    def test_clean_finish_is_silent(self):
        from ballista_delta_spark.queries.streaming_q import _await_completion

        _await_completion(self._FakeQuery(finished=True), "q3", timeout=1)


class TestDmlPathAttribution:
    def test_delete_in_dir_with_spaces(self, spark, tmp_path):
        # input_file_name() percent-encodes the space; the old fixed-length
        # slice produced keys missing the add-action map -> KeyError/no-op.
        tbl = str(tmp_path / "my data" / "t")
        write_delta(
            spark.createDataFrame([(i, i % 3) for i in range(30)], "id int, k int"),
            tbl,
        )
        m = delete_delta(spark, tbl, "k = 1")
        assert m["numDeletedRows"] == 10
        assert read_delta(spark, tbl).count() == 20

    def test_delete_through_symlinked_root(self, spark, tmp_path):
        real = tmp_path / "real_tbl"
        write_delta(
            spark.createDataFrame([(i, i % 2) for i in range(20)], "id int, k int"),
            str(real),
        )
        link = tmp_path / "link_tbl"
        os.symlink(real, link)
        m = delete_delta(spark, str(link), "k = 0")
        assert m["numDeletedRows"] == 10
        assert read_delta(spark, str(link)).count() == 10


class TestWriterProtocolGate:
    def _patch_log0(self, tbl, protocol=None, config=None):
        log0 = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
        with open(log0) as fh:
            actions = [json.loads(line) for line in fh]
        for a in actions:
            if protocol and "protocol" in a:
                a["protocol"] = protocol
            if config is not None and "metaData" in a:
                a["metaData"]["configuration"] = config
        with open(log0, "w") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in actions)

    @pytest.fixture()
    def tbl(self, spark, tmp_path):
        p = str(tmp_path / "t")
        write_delta(
            spark.createDataFrame([(i, i % 2) for i in range(10)], "id int, k int"),
            p,
        )
        return p

    def test_append_only_blocks_delete_update_allows_insert(self, spark, tbl):
        self._patch_log0(tbl, config={"delta.appendOnly": "true"})
        with pytest.raises(ValueError, match="append-only"):
            delete_delta(spark, tbl, "k = 0")
        from ballista_delta_spark.sources.delta_dml import update_delta

        with pytest.raises(ValueError, match="append-only"):
            update_delta(spark, tbl, "k = 0", {"id": "id + 1"})
        with pytest.raises(ValueError, match="append-only"):
            write_delta(
                spark.createDataFrame([(99, 9)], "id int, k int"),
                tbl, mode="overwrite",
            )
        # Appends and insert-only MERGE stay legal.
        write_delta(
            spark.createDataFrame([(99, 9)], "id int, k int"), tbl
        )
        src = spark.createDataFrame([(100, 0)], "id int, k int")
        m = merge_delta(spark, tbl, src, "t.id = s.id")
        assert m["numTargetRowsInserted"] == 1
        assert read_delta(spark, tbl).count() == 12
        # MERGE with a matched clause is file-removing -> blocked.
        with pytest.raises(ValueError, match="append-only"):
            merge_delta(
                spark, tbl, src, "t.id = s.id", matched_update={"k": "s.k"}
            )

    def test_v4_writes_allowed_when_features_inactive(self, spark, tbl):
        # Round 6: v4-v6 gate on ACTIVE features, not the version number —
        # this table has no CDF/generated/identity so the write commits.
        # Active-feature refusals are pinned in tests/test_constraints.py.
        self._patch_log0(
            tbl, protocol={"minReaderVersion": 1, "minWriterVersion": 4}
        )
        write_delta(spark.createDataFrame([(99, 9)], "id int, k int"), tbl)
        assert read_delta(spark, tbl).count() == 11

    def test_v7_writer_features_gate(self, spark, tbl):
        self._patch_log0(tbl, protocol={
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["appendOnly", "invariants"],
        })
        write_delta(spark.createDataFrame([(99, 9)], "id int, k int"), tbl)
        # deletionVectors/checkConstraints joined the supported writer
        # features in round 6, rowTracking in round 7 (per-commit row-id
        # allocation in _try_commit) — a feature we neither implement nor
        # can prove inactive still gates.
        self._patch_log0(tbl, protocol={
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["someFutureFeature"],
        })
        with pytest.raises(ValueError, match="someFutureFeature"):
            write_delta(
                spark.createDataFrame([(98, 8)], "id int, k int"), tbl
            )

    def test_check_constraints_enforced_not_refused(self, spark, tbl):
        # Round 6: constraints are ENFORCED (tests/test_constraints.py),
        # so a DELETE on a constrained table commits — deletes cannot
        # introduce a violation.
        self._patch_log0(
            tbl, config={"delta.constraints.positive_id": "id > 0"}
        )
        m = delete_delta(spark, tbl, "k = 0")
        assert m["numDeletedRows"] > 0


class TestUnsupportedCheckpointFallback:
    def test_v2_checkpoint_is_read_and_absent_checkpoint_errors(
        self, spark, tmp_path
    ):
        """Round 6 upgraded the r4 fallback: a UUID-named (v2) checkpoint is
        now PARSED directly — including after the JSON log is cleaned. Only
        a _last_checkpoint pointing at no file at all, with an incomplete
        log, is an error."""
        from ballista_delta_spark.sources.delta import create_checkpoint

        tbl = str(tmp_path / "t")
        df = spark.createDataFrame([(i,) for i in range(10)], "id int")
        write_delta(df, tbl)
        write_delta(df, tbl, mode="append")
        v = create_checkpoint(tbl)
        # Simulate a v2 checkpoint: rename the classic file to a UUID form.
        log = os.path.join(tbl, "_delta_log")
        classic = os.path.join(log, f"{v:020d}.checkpoint.parquet")
        uuid_ckpt = os.path.join(
            log, f"{v:020d}.checkpoint.0000000000000000000a.parquet"
        )
        os.rename(classic, uuid_ckpt)
        assert read_delta(spark, tbl).count() == 20

        # Cleaned log (v0 json gone): the v2 checkpoint alone reconstructs.
        os.remove(os.path.join(log, f"{0:020d}.json"))
        assert read_delta(spark, tbl).count() == 20

        # No checkpoint file at all + incomplete log -> clear error.
        os.remove(uuid_ckpt)
        with pytest.raises(ValueError, match="no checkpoint file"):
            read_delta(spark, tbl)


class TestIvfCacheStaleness:
    def test_rewritten_embeddings_refresh_centroids(self, spark, sf_dir, tmp_path):
        """The IVF centroid cache is keyed on the table's mtime/size, so
        rewriting embeddings.parquet must yield fresh centroids, not the
        cached index of the old data."""
        import os
        import shutil
        import time

        from ballista_delta_spark.queries.similarity import _ivf_centroids

        d = str(tmp_path / "sf")
        os.makedirs(d)
        shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), d)
        first = _ivf_centroids(spark, d)

        # Rewrite with shifted vectors (vec_id < K picks the centroids).
        df = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        from pyspark.sql import functions as F

        shifted = df.withColumn(
            "embedding", F.transform("embedding", lambda x: x + F.lit(1.0))
        )
        pdf = shifted.toPandas()
        time.sleep(0.05)  # ensure a distinct mtime_ns even on coarse clocks
        pdf.to_parquet(os.path.join(d, "embeddings.parquet"))

        second = _ivf_centroids(spark, d)
        assert first != second
        assert abs(second[0][0] - (first[0][0] + 1.0)) < 1e-6


class TestLabelPropagationConvergence:
    def _chain(self, spark, n):
        edges = [(i, i + 1) for i in range(1, n)]
        sym = spark.createDataFrame(
            edges + [(b, a) for a, b in edges], "src bigint, dst bigint"
        )
        return sym

    def test_non_convergence_raises(self, spark):
        from ballista_delta_spark.queries.dedup import label_propagate_min

        with pytest.raises(RuntimeError, match="did not converge"):
            label_propagate_min(self._chain(spark, 12), max_iters=2)

    def test_chain_converges_to_single_cluster(self, spark):
        from ballista_delta_spark.queries.dedup import label_propagate_min

        labels = label_propagate_min(self._chain(spark, 12), max_iters=20)
        rows = labels.collect()
        assert len(rows) == 12
        assert {r["cluster_id"] for r in rows} == {1}


class TestR9fBehavior:
    """Behavioral (non-oracle) checks for the r9f operators: construct a
    corpus where the right answer is known BY HAND and assert the
    operator finds exactly it. The DuckDB oracle proves engine
    agreement; these prove the SEMANTICS."""

    def _mini_docs(self, spark, tmp_path, rows):
        import os

        p = os.path.join(str(tmp_path), "documents.parquet")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        return str(tmp_path)

    def test_exact_substring_finds_planted_run_only(self, spark, tmp_path):
        """Docs 1 and 2 share a verbatim 8-token span (5 consecutive
        4-token windows); doc 3 shares nothing long enough. Exactly the
        (1,2) pair must surface, with max_run >= _SUB_RUN and the run
        length matching the planted span."""
        from ballista_delta_spark.queries.dedup import (
            _SUB_RUN,
            dedup_exact_substring,
        )

        span = "alpha bravo charlie delta echo foxtrot golf hotel"
        rows = [
            (1, f"intro one two {span} outro red", "en", "w", 0),
            (2, f"{span} totally different tail here", "en", "w", 0),
            # doc 3 shares only a 4-token window with the span (one
            # window, run of 1 < _SUB_RUN) — must NOT pair.
            (3, "alpha bravo charlie delta unrelated words follow now", "en", "w", 0),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {
            (r["doc_a"], r["doc_b"]): r["max_run"]
            for r in dedup_exact_substring(spark, sf).collect()
        }
        assert set(got) == {(1, 2)}, got
        # 8 tokens -> 5 consecutive 4-token windows shared.
        assert got[(1, 2)] == 5
        assert got[(1, 2)] >= _SUB_RUN

    def test_curation_verdict_reject_reasons(self, spark, tmp_path):
        """Each planted pathology must be rejected with ITS reason:
        a too-short doc fails 'gopher'; a 60-word doc cycling 4 tokens
        fails 'repetition' (gopher passes: length, mean word len >= 3,
        stopwords present); a doc CONSTRUCTED to score positive on the
        classifier (greedy best-next-bigram walk over the actual weight
        table, verified in Python first) is 'ok'."""
        import hashlib

        from ballista_delta_spark.queries.pipeline import corpus_curation_verdict
        from ballista_delta_spark.queries.text import _QC_B, _QC_W

        def w_of(pr: str) -> int:
            b = int(hashlib.md5(pr.encode()).hexdigest()[:8], 16) % _QC_B
            return _QC_W[b]

        # Greedy walk: 30 distinct 3-7 letter words (incl. 'the' for the
        # stopword rule), each used twice -> 60 words, distinct_frac 0.5;
        # next word = the one maximizing the bigram weight from here.
        vocab = [
            "the", "stone", "river", "bridge", "garden", "window", "marble",
            "copper", "silver", "meadow", "forest", "harbor", "candle",
            "lantern", "village", "market", "temple", "castle", "valley",
            "canyon", "desert", "island", "breeze", "summer", "winter",
            "autumn", "spring", "sunset", "shadow", "whisper",
        ]
        budget = {w: 2 for w in vocab}
        words = ["the"]
        budget["the"] -= 1
        while any(budget.values()):
            cands = [w for w, n in budget.items() if n > 0]
            nxt = max(cands, key=lambda w: (w_of(f"{words[-1]} {w}"), w))
            words.append(nxt)
            budget[nxt] -= 1
        healthy = " ".join(words)
        score = sum(w_of(f"{a} {b}") for a, b in zip(words, words[1:]))
        assert score >= 0, score  # the greedy walk must land positive
        # 60 words, mean word len 3.25, 'the' x15 (stopwords), but only
        # 4 distinct tokens -> distinct_frac ~0.07 < 0.25.
        reps = ("the cat sat down " * 15).strip()
        rows = [
            (1, "too short", "en", "w", 0),
            (2, reps, "en", "w", 0),
            (3, healthy, "en", "w", 0),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {
            r["doc_id"]: (r["verdict"], r["keep"])
            for r in corpus_curation_verdict(spark, sf).collect()
        }
        assert got[1] == ("gopher", False), got
        assert got[2] == ("repetition", False), got
        assert got[3] == ("ok", True), got

    def test_vocab_coverage_is_monotone_and_complete(self, spark, tmp_path):
        """cum_share must be non-decreasing, end at 1.0 when V covers the
        whole vocabulary, and rank 1 must be the modal word."""
        from ballista_delta_spark.queries.text import text_vocab_coverage

        rows = [
            (1, "a a a a b b b c c d", "en", "w", 0),
            (2, "a a b c d e", "en", "w", 0),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        out = text_vocab_coverage(spark, sf).orderBy("rank").collect()
        assert out[0]["word"] == "a" and out[0]["n_occ"] == 6
        shares = [r["cum_share"] for r in out]
        assert shares == sorted(shares)
        assert abs(shares[-1] - 1.0) < 1e-9

    def test_dsir_separates_target_vocabulary(self, spark, tmp_path):
        """Corpus where target-language (en) docs draw from vocabulary A
        and the rest from vocabulary B: every en doc must score strictly
        positive (its tokens' buckets are target-heavy) and every de doc
        strictly negative — the importance weights are LEARNED from this
        corpus, so the separation is exact, not statistical."""
        from ballista_delta_spark.queries.sampling import sample_dsir

        voc_a = "apple berry cedar dahlia elder fennel".split()
        voc_b = "zink yurt xenon wolfram vanadium uranium".split()
        rows = []
        for i in range(8):
            rows.append((i, " ".join(voc_a[i % 3:] + voc_a[: i % 3]) * 3, "en", "w", 0))
        for i in range(8, 16):
            rows.append((i, " ".join(voc_b[i % 3:] + voc_b[: i % 3]) * 3, "de", "w", 0))
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {r["doc_id"]: (r["score"], r["keep"]) for r in sample_dsir(spark, sf).collect()}
        assert len(got) == 16
        for i in range(8):
            assert got[i][0] > 0 and got[i][1], got[i]
        for i in range(8, 16):
            assert got[i][0] < 0 and not got[i][1], got[i]

    def test_scene_detect_counts_planted_cuts(self, spark, tmp_path):
        """Payload = 3 'shots' of 2 frames each with intensity jumps at
        the boundaries: 6 frames, 3 scenes, longest scene 2. A flat
        payload of the same length is a single 6-frame scene."""
        from ballista_delta_spark.queries.multimodal import (
            _SCENE_W,
            mm_scene_detect,
        )

        shots = ("a" * (2 * _SCENE_W)) + ("m" * (2 * _SCENE_W)) + ("z" * (2 * _SCENE_W))
        flat = "b" * (6 * _SCENE_W)
        rows = [
            (1, shots, "en", "w", len(shots)),
            (2, flat, "en", "w", len(flat)),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {
            r["doc_id"]: (r["n_frames"], r["n_scenes"], r["max_scene"])
            for r in mm_scene_detect(spark, sf).collect()
        }
        assert got[1] == (6, 3, 2), got
        assert got[2] == (6, 1, 6), got


class TestR9gBehavior:
    """Behavioral checks for the r9g operators — hand-built inputs with
    a known right answer (the oracle proves engine agreement; these
    prove the semantics)."""

    def _mini_events(self, spark, tmp_path, rows):
        p = os.path.join(str(tmp_path), "events.parquet")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        return str(tmp_path)

    def _mini_docs(self, spark, tmp_path, rows):
        p = os.path.join(str(tmp_path), "documents.parquet")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        return str(tmp_path)

    def test_type_lift_coupled_pair(self, spark, tmp_path):
        """Four users emit A and B together; four other users emit only
        C. Exactly one pair (A, B) must surface, with lift
        u_both * n_users / (u_a * u_b) = 4*8/(4*4) = 2.0 and support
        4/8 = 0.5 — and repeat events must NOT inflate the counts."""
        from datetime import datetime

        from ballista_delta_spark.queries.pipeline import events_type_lift

        t = datetime(2026, 1, 1)
        rows = []
        eid = 0
        for u in range(1, 5):  # users 1-4: A and B (A twice — a repeat)
            for et in ("A", "A", "B"):
                eid += 1
                rows.append((eid, t, u, et, 1.0, "{}"))
        for u in range(5, 9):  # users 5-8: C only
            eid += 1
            rows.append((eid, t, u, "C", 1.0, "{}"))
        sf = self._mini_events(spark, tmp_path, rows)
        got = events_type_lift(spark, sf).collect()
        assert len(got) == 1, got
        r = got[0]
        assert (r["type_a"], r["type_b"], r["u_both"]) == ("A", "B", 4)
        assert r["lift"] == 2.0 and r["support"] == 0.5

    def test_token_budget_greedy_cut(self, spark, tmp_path):
        """Per-lang greedy admission in quality order: the all-alpha doc
        (score 1st) and the mid-score doc fit the 4000-token budget; the
        low-score doc arrives after the budget is spent and must be cut.
        A second language gets its own budget."""
        from ballista_delta_spark.queries.pipeline import (
            _BUDGET_TOKENS,
            corpus_token_budget,
        )

        pure = "aaa " * 2999 + "aaa"      # 3000 tokens, highest alpha ratio
        mid = "aa1 " * 1999 + "aa1"       # 2000 tokens, ratio 2/3-ish
        low = "a11 " * 1999 + "a11"       # 2000 tokens, lowest ratio
        rows = [
            (1, pure, "en", "w", 0),
            (2, mid, "en", "w", 0),
            (3, low, "en", "w", 0),
            (4, "bonjour le monde", "fr", "w", 0),  # tiny, fits alone
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {r["doc_id"]: r for r in corpus_token_budget(spark, sf).collect()}
        assert set(got) == {1, 2, 4}, got
        # doc 1 admitted first (cum 3000 <= budget start), doc 2 starts at
        # 3000 < 4000 so it overshoots to 5000 — the greedy contract.
        assert got[1]["cum_tokens"] == 3000
        assert got[2]["cum_tokens"] == 5000
        assert got[2]["cum_tokens"] - got[2]["n_tokens"] < _BUDGET_TOKENS
        assert got[1]["alpha_q"] > got[2]["alpha_q"]

    def test_clip_filter_prefix_identity_scores_perfect(self, spark, tmp_path):
        """The fake CLIP cosine is exactly 1.0 (1_000_000 ppm) when the
        caption IS the payload (docs <= 64 bytes), and strictly below
        when the tail diverges from the leading 64 bytes; the aligned
        flag must mirror the threshold, not re-derive its own score."""
        from ballista_delta_spark.queries.multimodal import (
            _CLIP_MIN_PPM,
            mm_clip_filter,
        )

        short = "caption and image agree"          # 23 bytes: cap == payload
        long_div = ("a" * 64) + ("Z9" * 400)        # tail diverges hard
        rows = [
            (1, short, "en", "w", len(short)),
            (2, long_div, "en", "w", len(long_div)),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {r["doc_id"]: r for r in mm_clip_filter(spark, sf).collect()}
        assert got[1]["score_ppm"] == 1_000_000
        assert got[1]["is_aligned"] is True
        assert got[2]["score_ppm"] < 1_000_000
        for r in got.values():
            assert r["is_aligned"] == (r["score_ppm"] >= _CLIP_MIN_PPM)

    def test_power_iteration_recovers_planted_direction(self, spark, tmp_path):
        """A rank-1 corpus (every vector on the dim-0 axis) must iterate
        to exactly that axis: s is nonzero only at dim 0 (sign = sign of
        <e0, v0> — v0[0] is -0.5, so negative) and the normalized next
        iterate is the unit vector (-1, 0, ..., 0)."""
        from ballista_delta_spark.queries.similarity import (
            _DIM,
            emb_power_iteration,
        )

        rows = [
            (1, [3.0] + [0.0] * (_DIM - 1), 0),
            (2, [4.0] + [0.0] * (_DIM - 1), 0),
        ]
        p = os.path.join(str(tmp_path), "embeddings.parquet")
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        got = {r["dim"]: r for r in emb_power_iteration(spark, str(tmp_path)).collect()}
        assert len(got) == _DIM
        assert got[0]["v_next"] == -1.0
        assert got[0]["s_val"] == -12.5  # -0.5 * (9 + 16)
        for d in range(1, _DIM):
            assert got[d]["s_val"] == 0.0 and got[d]["v_next"] == 0.0

    def test_code_detect_separates_code_from_prose(self, spark, tmp_path):
        """A planted Python-ish snippet must flag via the keyword+indent
        arm, a brace-dense C-ish snippet via the symbol-density arm, and
        plain prose (few symbols, no keywords) must stay clean."""
        from ballista_delta_spark.queries.text import text_code_detect

        py = (
            "def main():\n    import os\n    x = 1;\n"
            "    return x\nclass T:\n    pass"
        )
        c = "int f(){return 1;}\nvoid g(){int x=2;}\n{};();=<>[]"
        prose = (
            "The quick brown fox jumps over the lazy dog.\n"
            "It was a bright cold day in April and the clocks were striking."
        )
        rows = [(1, py, "en", "w", 0), (2, c, "en", "w", 0), (3, prose, "en", "w", 0)]
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {r["doc_id"]: r for r in text_code_detect(spark, sf).collect()}
        assert got[1]["is_code"] is True and got[1]["kw_hits"] >= 3
        assert got[1]["indent_lines"] >= 2
        assert got[2]["is_code"] is True and got[2]["sym_ppm"] >= 40_000
        assert got[3]["is_code"] is False
        assert got[3]["kw_hits"] == 0 and got[3]["stmt_lines"] == 0

    def test_merge_short_packs_greedily_and_digests_in_order(self, spark, tmp_path):
        """Six 63-token docs in one lang: greedy 256-token packing puts
        docs 1-5 in pack 0 (pack start = 0/63/126/189/252, all < 256 —
        the last one overshoots, the greedy contract) and doc 6 in pack
        1 (start 315); a 200-token doc is excluded as not-short; the
        digest must equal md5 of the doc_id-ordered newline join."""
        import hashlib

        from ballista_delta_spark.queries.pipeline import doc_merge_short

        t = ["w%d " % i * 62 + "end" for i in range(6)]  # 63 tokens each
        long_doc = "x " * 199 + "x"                       # 200 tokens
        rows = [(i + 1, t[i], "en", "w", 0) for i in range(6)]
        rows.append((9, long_doc, "en", "w", 0))
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {
            (r["lang"], r["pack_id"]): r
            for r in doc_merge_short(spark, sf).collect()
        }
        assert set(got) == {("en", 0), ("en", 1)}, got
        p0, p1 = got[("en", 0)], got[("en", 1)]
        assert p0["n_docs"] == 5 and p0["pack_tokens"] == 315
        assert p1["n_docs"] == 1 and p1["pack_tokens"] == 63
        want = hashlib.md5("\n".join(t[:5]).encode()).hexdigest()
        assert p0["digest"] == want


class TestR9hBehavior:
    """Behavioral checks for the r9h operators — hand-built inputs with
    a known right answer (the oracle proves engine agreement; these
    prove the semantics)."""

    def _mini_docs(self, spark, tmp_path, rows):
        p = os.path.join(str(tmp_path), "documents.parquet")
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        return str(tmp_path)

    def _mini_embs(self, spark, tmp_path, vecs):
        p = os.path.join(str(tmp_path), "embeddings.parquet")
        spark.createDataFrame(
            [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        return str(tmp_path)

    def test_entropy_degenerate_vs_uniform(self, spark, tmp_path):
        """One repeated letter -> 0 bits (keep=False); 16 distinct
        letters once each -> exactly 4 bits (keep=True); spaces and
        digits never count as letters."""
        from ballista_delta_spark.queries.text import text_entropy

        rows = [
            (1, "aaaa aaaa 1234", "en", "s", 14),
            (2, "abcdefghijklmnop", "en", "s", 16),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {r["doc_id"]: r for r in text_entropy(spark, sf).collect()}
        assert got[1]["n_letters"] == 8
        assert got[1]["distinct_chars"] == 1
        assert got[1]["entropy_bits"] == 0.0 and got[1]["keep"] is False
        assert got[2]["n_letters"] == 16
        assert got[2]["distinct_chars"] == 16
        assert got[2]["entropy_bits"] == 4.0 and got[2]["keep"] is True

    def test_whiten_standardizes_known_column(self, spark, tmp_path):
        """dim 0 carries [1,2,3,4] across the corpus: mu=2.5,
        var=1.25 -> whitened = (v-2.5)/sqrt(1.25+1e-9), mean 0 by
        construction."""
        import math

        from ballista_delta_spark.queries.similarity import emb_whiten

        vecs = [[v] + [0.0] * 63 for v in (1.0, 2.0, 3.0, 4.0)]
        sf = self._mini_embs(spark, tmp_path, vecs)
        got = {
            (r["vec_id"], r["dim"]): r["w"]
            for r in emb_whiten(spark, sf).collect()
        }
        sd = math.sqrt(1.25 + 1e-9)
        for vid, v in enumerate((1.0, 2.0, 3.0, 4.0)):
            assert abs(got[(vid, 0)] - round((v - 2.5) / sd, 6)) < 1e-9
        assert abs(sum(got[(vid, 0)] for vid in range(4))) < 1e-6
        # constant dims whiten to 0 (epsilon floor, never NaN/inf)
        assert got[(0, 1)] == 0.0

    def test_dedup_ahash_finds_exact_twin_not_stranger(self, spark, tmp_path):
        """Two byte-identical payloads collide at hamming 0; a
        structurally different doc stays out (verified against the
        brute-force popcount over the signature table)."""
        from ballista_delta_spark.queries.multimodal import (
            _ahash,
            _payload,
            mm_dedup_ahash,
        )

        twin = "alpha beta gamma delta " * 8
        rows = [
            (1, twin, "en", "s", len(twin)),
            (2, twin, "en", "s", len(twin)),
            (3, "zz " + "q" * 160 + " yy", "en", "s", 166),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        pairs = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in mm_dedup_ahash(spark, sf).collect()
        }
        assert pairs[(1, 2)] == 0
        # brute-force ground truth over the same signatures
        sigs = dict(
            _payload(spark, sf)
            .mapInPandas(_ahash, "doc_id long, ahash long")
            .collect()
        )
        want = {
            (a, b)
            for a in sigs
            for b in sigs
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
        }
        assert set(pairs) == want

    def test_kcenter_picks_planted_outlier_first(self, spark, tmp_path):
        """Seeds are vec_id 0-7 near the origin; vec_id 8 is planted far
        away — it must rank 1, and every seed must rank with
        min_dist 0 at the bottom or not at all."""
        from ballista_delta_spark.queries.similarity import emb_kcenter_step

        vecs = [[0.01 * i] * 64 for i in range(8)]  # the seeds
        vecs.append([10.0] * 64)                    # planted outlier
        vecs += [[0.05] * 64 for _ in range(4)]     # mild fillers
        sf = self._mini_embs(spark, tmp_path, vecs)
        got = sorted(
            emb_kcenter_step(spark, sf).collect(), key=lambda r: r["rnk"]
        )
        assert got[0]["vec_id"] == 8
        assert got[0]["min_dist"] > got[1]["min_dist"]
        # seeds themselves sit at distance 0 (they ARE centers)
        by_vid = {r["vec_id"]: r["min_dist"] for r in got}
        assert by_vid.get(0, 0.0) == 0.0

    def test_source_psi_zero_for_identical_shifted_for_drifted(
        self, spark, tmp_path
    ):
        """Two sources with the IDENTICAL length histogram score psi 0;
        a third source concentrated in a different bucket scores
        strictly higher."""
        from ballista_delta_spark.queries.pipeline import corpus_source_psi

        rows = []
        did = 0
        for src in ("a", "b"):  # identical histograms: 5 short + 5 long
            for n in [40] * 5 + [140] * 5:
                did += 1
                rows.append((did, "x", "en", src, n))
        for n in [940] * 10:    # source c: all in a far bucket
            did += 1
            rows.append((did, "x", "en", "c", n))
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {r["source"]: r["psi"] for r in corpus_source_psi(spark, sf).collect()}
        assert got["a"] == got["b"]
        assert got["c"] > got["a"] + 0.1

    def test_lang_confusion_counts_and_shares(self, spark, tmp_path):
        """3 labeled-en docs predicted en + 1 labeled-en doc written in
        German function words -> cells (en,en,3,0.75) and (en,de,1,0.25)."""
        from ballista_delta_spark.queries.pipeline import corpus_lang_confusion

        rows = [
            (1, "the of and to is", "en", "s", 16),
            (2, "the a of and in", "en", "s", 15),
            (3, "of the is in and", "en", "s", 16),
            (4, "der die und das ist", "en", "s", 19),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {
            (r["lang"], r["lang_pred"]): (r["n"], r["share"])
            for r in corpus_lang_confusion(spark, sf).collect()
        }
        assert got[("en", "en")] == (3, 0.75)
        assert got[("en", "de")] == (1, 0.25)


class TestContainmentBehavior:
    def _mini_docs(self, spark, tmp_path, rows):
        p = os.path.join(str(tmp_path), "documents.parquet")
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        return str(tmp_path)

    def test_excerpt_found_despite_low_jaccard(self, spark, tmp_path):
        """A 10-token excerpt quoted inside a 200-token page: containment
        1.0 (flagged) while symmetric Jaccard stays far below its 0.8
        gate — the case this operator exists for. An unrelated doc must
        not pair."""
        from ballista_delta_spark.queries.dedup import (
            dedup_containment,
            dedup_ngram_jaccard,
        )

        excerpt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        page = " ".join(f"w{i}" for i in range(95)) + " " + excerpt + " " + \
            " ".join(f"v{i}" for i in range(95))
        other = " ".join(f"z{i}" for i in range(50))
        rows = [
            (1, excerpt, "en", "s", len(excerpt)),
            (2, page, "en", "s", len(page)),
            (3, other, "en", "s", len(other)),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {
            (r["contained_doc"], r["container_doc"]): r["containment"]
            for r in dedup_containment(spark, sf).collect()
        }
        assert got == {(1, 2): 1.0}
        # and the symmetric Jaccard gate misses it entirely
        jac = dedup_ngram_jaccard(spark, sf).collect()
        assert jac == []


class TestR9iBehavior:
    """Behavioral checks for the r9i operators — hand-built inputs with
    a known right answer (the oracle proves engine agreement; these
    prove the semantics)."""

    def _mini_docs(self, spark, tmp_path, rows):
        p = os.path.join(str(tmp_path), "documents.parquet")
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        return str(tmp_path)

    def _mini_events(self, spark, tmp_path, rows):
        p = os.path.join(str(tmp_path), "events.parquet")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        return str(tmp_path)

    def test_survivorship_picks_longest_then_lowest_id(self, spark, tmp_path):
        """Three byte-identical copies: the survivor is the (single)
        longest... text is identical so n_chars ties — the pick falls to
        the LOWEST doc_id; ledger counts 1 kept / 2 dropped."""
        from ballista_delta_spark.queries.dedup import dedup_survivorship

        rows = [
            (5, "same text", "en", "s", 9),
            (3, "same text", "en", "s", 9),
            (9, "same text", "en", "s", 9),
            (1, "unique", "de", "s", 6),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {r["lang"]: r for r in dedup_survivorship(spark, sf).collect()}
        assert got["en"]["n_survivors"] == 1
        assert got["en"]["n_dropped"] == 2
        assert got["en"]["chars_kept"] == 9
        assert got["en"]["chars_dropped"] == 18
        assert got["de"]["n_survivors"] == 1 and got["de"]["n_dropped"] == 0

    def test_exact_dedup_keeps_distinct_texts_on_hash_collision(
        self, spark, tmp_path, monkeypatch
    ):
        """Exact dedup groups by document identity, not by its 64-bit
        fingerprint: with the fingerprint forced to one constant, two
        distinct documents must both survive, while true copies still
        collapse."""
        from ballista_delta_spark.queries import dedup

        monkeypatch.setattr(
            dedup, "_text_fingerprint", lambda text: F.lit(0).cast("bigint")
        )
        rows = [
            (20, "alpha beta gamma", "en", "s", 16),
            (21, "delta epsilon zeta", "en", "s", 18),
            (22, "alpha beta gamma", "en", "s", 16),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        (got,) = dedup.dedup_survivorship(spark, sf).collect()
        assert (got["n_survivors"], got["n_dropped"]) == (2, 1)
        stages = {
            r["stage"]: r["n_docs"]
            for r in dedup.corpus_dedup_cascade(spark, sf).collect()
        }
        assert stages["0_raw"] == 3 and stages["1_exact"] == 2

    def test_interval_overlap_detects_planted_concurrency(self, spark, tmp_path):
        """Users 1+2 are active 10:00-14:00 and 12:00-18:00 on the same
        day (2 h overlap >= 30 min -> one pair); user 3 overlaps user 2
        by only 10 minutes -> never a pair."""
        import datetime as dt

        from ballista_delta_spark.queries.joins import QUERIES

        d = dt.datetime(2024, 3, 1)

        def ev(i, u, h, m=0):
            return (i, d + dt.timedelta(hours=h, minutes=m), u, "view", 1.0, "{}")

        rows = [
            ev(1, 1, 10), ev(2, 1, 14),
            ev(3, 2, 12), ev(4, 2, 18),
            ev(5, 3, 17, 50), ev(6, 3, 23),
        ]
        sf = self._mini_events(spark, tmp_path, rows)
        fn, _ = QUERIES["join_interval_overlap"]
        out = fn(spark, sf).collect()
        assert len(out) == 1
        assert out[0]["n_pairs"] == 1
        assert out[0]["avg_overlap_s"] == 7200.0

    def test_rfm_extremes_land_in_extreme_cells(self, spark, tmp_path):
        """A user with many recent high-value purchases scores (5,5,5)
        = champion; a single stale cheap event scores r=1, f=1, m=1 =
        hibernating. Built with 6 users so quintile cutpoints separate
        the extremes."""
        import datetime as dt

        from ballista_delta_spark.queries.pipeline import events_rfm

        base = dt.datetime(2024, 3, 1)
        rows = []
        eid = 0
        # 4 filler users with increasing recency/frequency/value
        for u in range(4):
            for k in range(2 + u):
                eid += 1
                rows.append(
                    (eid, base + dt.timedelta(days=5 * u, hours=k), u,
                     "purchase", 10.0 * (u + 1), "{}")
                )
        # the champion: most recent day, most events, biggest values
        for k in range(10):
            eid += 1
            rows.append(
                (eid, base + dt.timedelta(days=29, minutes=k), 100,
                 "purchase", 400.0, "{}")
            )
        # the hibernator: one tiny ancient event
        eid += 1
        rows.append((eid, base - dt.timedelta(days=30), 200, "view", 0.01, "{}"))
        sf = self._mini_events(spark, tmp_path, rows)
        cells = events_rfm(spark, sf).collect()
        seg = {}
        for r in cells:
            seg[(r["r_score"], r["f_score"], r["m_score"])] = r["segment"]
        assert seg.get((5, 5, 5)) == "champion"
        assert seg.get((1, 1, 1)) == "hibernating"

    def test_basket_lift_math_on_planted_baskets(self, spark, tmp_path):
        """Parts 10+20 co-occur in 3 of 6 orders; each appears in 4
        -> support 3/6=0.5, confidence 3/4=0.75, lift
        3*6/(4*4)=1.125."""
        p = os.path.join(str(tmp_path), "lineitem.parquet")
        rows = []
        orders = [
            (1, [10, 20]), (2, [10, 20]), (3, [10, 20]),
            (4, [10]), (5, [20, 30]), (6, [30, 40]),
        ]
        k = 0
        for o, parts in orders:
            for pt in parts:
                k += 1
                rows.append((o, pt, k))
        spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long, l_linenumber long"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        from ballista_delta_spark.queries.joins import QUERIES

        fn, _ = QUERIES["basket_lift"]
        out = {(r["pa"], r["pb"]): r for r in fn(spark, str(tmp_path)).collect()}
        r = out[(10, 20)]
        assert r["n_orders_both"] == 3
        assert r["support"] == 0.5
        assert r["confidence"] == 0.75
        assert r["lift"] == 1.125

    def test_ab_test_z_sign_and_guard(self, spark, tmp_path):
        """Variant assignment is md5-derived; plant conversion so one
        variant converts strictly more and assert the z sign follows
        (variant 0 rate - variant 1 rate), and rates are exact."""
        import datetime as dt

        from ballista_delta_spark.queries.pipeline import events_ab_test

        base = dt.datetime(2024, 3, 1)
        # find two users per variant via the same md5 arithmetic
        import hashlib

        def variant(u):
            return int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2

        v0 = [u for u in range(40) if variant(u) == 0][:3]
        v1 = [u for u in range(40) if variant(u) == 1][:3]
        rows = []
        eid = 0
        # all of v0 convert (>= 14 purchases); only one of v1 does
        for u in v0:
            for k in range(14):
                eid += 1
                rows.append((eid, base + dt.timedelta(minutes=eid), u,
                             "purchase", 1.0, "{}"))
        for i, u in enumerate(v1):
            n = 14 if i == 0 else 1
            for k in range(n):
                eid += 1
                rows.append((eid, base + dt.timedelta(minutes=eid), u,
                             "purchase", 1.0, "{}"))
        sf = self._mini_events(spark, tmp_path, rows)
        out = {r["variant"]: r for r in events_ab_test(spark, sf).collect()}
        assert out[0]["conv_rate"] == 1.0
        assert round(out[1]["conv_rate"], 6) == round(1 / 3, 6)
        assert out[0]["z_stat"] is not None and out[0]["z_stat"] > 0

    def test_zipf_slope_near_minus_one_on_exact_zipf(self, spark, tmp_path):
        """A corpus built to an exact Zipf law (freq(r) = 120 // r over
        8 ranks) must fit slope ~ -1 with R^2 ~ 1."""
        from ballista_delta_spark.queries.text import text_zipf_fit

        words = [f"w{i:02d}" for i in range(8)]
        toks = []
        for r, w in enumerate(words, start=1):
            toks += [w] * (120 // r)
        text = " ".join(toks)
        sf = self._mini_docs(
            spark, tmp_path, [(1, text, "en", "s", len(text))]
        )
        row = text_zipf_fit(spark, sf).collect()[0]
        assert row["n_ranks"] == 8
        assert abs(row["zipf_slope"] + 1.0) < 0.05, row
        assert row["fit_r2"] > 0.99, row

    def test_dedup_cascade_funnel_monotone(self, spark, tmp_path):
        """Planted: 2 exact copies + 1 near-dup of a base doc + 1 doc
        quoting a benchmark 13-gram. Stages must be monotone and each
        planted removal must land in its stage."""
        from ballista_delta_spark.queries.dedup import corpus_dedup_cascade

        bench_text = " ".join(f"b{i}" for i in range(20))
        base = " ".join(f"t{i}" for i in range(40))
        near = base.replace("t39", "x39")  # 1-token edit: jaccard > 0.8
        contaminated = "intro " + " ".join(f"b{i}" for i in range(13))
        rows = [(i, bench_text, "en", "s", len(bench_text)) for i in range(10)]
        rows += [
            (20, base, "en", "s", len(base)),
            (21, base, "en", "s", len(base)),      # exact dup of 20
            (22, near, "en", "s", len(near)),      # near dup of 20
            (23, contaminated, "en", "s", len(contaminated)),
            (24, "clean unrelated words entirely different", "en", "s", 41),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {r["stage"]: r["n_docs"] for r in corpus_dedup_cascade(spark, sf).collect()}
        assert got["0_raw"] == 15
        # exact: bench docs collapse to 1, 20/21 collapse -> 15 - 9 - 1 = 5... wait
        # bench docs are identical -> 10 copies collapse to 1 (9 dropped);
        # 20/21 collapse to 20 (1 dropped)
        assert got["1_exact"] == got["0_raw"] - 9 - 1
        # near-dup removes 22 (partner 20 survives stage 1)
        assert got["2_neardup"] == got["1_exact"] - 1
        # decontam removes the bench survivor (doc_id < 10) and doc 23
        assert got["3_decontam"] == got["2_neardup"] - 2


class TestR9iBehaviorB:
    """Planted-answer checks for the second r9i batch."""

    def _mini_events(self, spark, tmp_path, rows):
        p = os.path.join(str(tmp_path), "events.parquet")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        return str(tmp_path)

    def test_scd2_intervals_close_and_stay_open(self, spark, tmp_path):
        """User spends low in week 1, high in weeks 2-3, low in week 4:
        three SCD2 rows; the middle one closes the day before week 4,
        only the last is current."""
        import datetime as dt

        from ballista_delta_spark.queries.pipeline import events_scd2_tiers

        w0 = dt.datetime(2024, 1, 1)  # a Monday
        rows = [
            (1, w0, 7, "purchase", 10.0, "{}"),
            (2, w0 + dt.timedelta(days=7), 7, "purchase", 5000.0, "{}"),
            (3, w0 + dt.timedelta(days=14), 7, "purchase", 5000.0, "{}"),
            (4, w0 + dt.timedelta(days=21), 7, "purchase", 10.0, "{}"),
        ]
        sf = self._mini_events(spark, tmp_path, rows)
        out = sorted(
            events_scd2_tiers(spark, sf).collect(),
            key=lambda r: r["effective_from"],
        )
        assert [r["tier"] for r in out] == ["low", "high", "low"]
        assert out[0]["effective_to"] == dt.date(2024, 1, 7)
        assert out[1]["effective_to"] == dt.date(2024, 1, 21)
        assert out[1]["is_current"] is False
        assert out[2]["is_current"] is True and out[2]["effective_to"] is None

    def test_ltv_cumulative_math(self, spark, tmp_path):
        """One 2-user cohort spending 10 then 30 across two weeks:
        cum LTV/user = 5.0 then 20.0."""
        import datetime as dt

        from ballista_delta_spark.queries.pipeline import events_ltv_cohort

        w0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, w0, 1, "purchase", 4.0, "{}"),
            (2, w0, 2, "purchase", 6.0, "{}"),
            (3, w0 + dt.timedelta(days=7), 1, "purchase", 30.0, "{}"),
        ]
        sf = self._mini_events(spark, tmp_path, rows)
        out = {r["age_week"]: r for r in events_ltv_cohort(spark, sf).collect()}
        assert out[0]["n_users"] == 2
        assert out[0]["cum_ltv_per_user"] == 5.0
        assert out[1]["cum_ltv_per_user"] == 20.0

    def test_audience_overlap_exact_jaccard(self, spark, tmp_path):
        """Users {1,2,3} click, {2,3,4} view -> |both|=2, Jaccard 0.5."""
        import datetime as dt

        from ballista_delta_spark.queries.pipeline import events_audience_overlap

        t = dt.datetime(2024, 1, 1)
        rows = []
        for i, u in enumerate([1, 2, 3]):
            rows.append((i, t, u, "click", 1.0, "{}"))
        for i, u in enumerate([2, 3, 4], start=10):
            rows.append((i, t, u, "view", 1.0, "{}"))
        sf = self._mini_events(spark, tmp_path, rows)
        out = events_audience_overlap(spark, sf).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["type_a"], r["type_b"]) == ("click", "view")
        assert r["n_both"] == 2 and r["n_a"] == 3 and r["n_b"] == 3
        assert r["jaccard"] == 0.5

    def test_triangle_count_planted_graph(self, spark, tmp_path):
        """Orders plant edges {1-2, 2-3, 1-3, 3-4}: exactly one
        triangle; wedges = 1+3+1 per-node pairs = C(2,2 nodes)...
        degrees (1:2, 2:2, 3:3, 4:1) -> wedges 1+1+3+0 = 5; global
        clustering = 3*1/5 = 0.6."""
        p = os.path.join(str(tmp_path), "lineitem.parquet")
        rows = []
        k = 0
        # each edge needs >= 2 co-occurring orders
        for o, (u, v) in enumerate(
            [(1, 2), (2, 3), (1, 3), (3, 4)] * 2
        ):
            for pt in (u, v):
                k += 1
                rows.append((100 + o, pt, k))
        spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long, l_linenumber long"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        from ballista_delta_spark.queries.joins import QUERIES

        fn, _ = QUERIES["graph_triangle_count"]
        r = fn(spark, str(tmp_path)).collect()[0]
        assert r["n_nodes"] == 4 and r["n_edges"] == 4
        assert r["n_triangles"] == 1
        assert r["global_clustering"] == 0.6

    def test_rrf_prefers_documents_in_both_tiers(self, spark, sf_dir):
        """Over the real fixture: every fused top-1 document must be
        surfaced by BOTH tiers (the exact top-1 always re-appears in
        its own LSH bucket), and RRF scores are within (0, 2/61]."""
        from ballista_delta_spark.queries.similarity import sim_rrf_fusion

        rows = sim_rrf_fusion(spark, sf_dir).collect()
        top1 = [r for r in rows if r["fused_rank"] == 1]
        assert top1, rows
        assert all(r["in_both"] for r in top1), top1
        assert all(0 < r["rrf"] <= round(2 / 61, 6) + 1e-9 for r in rows)

    def test_dq_catches_planted_violations(self, spark, tmp_path):
        """Plant a NULL user_id, an out-of-range value, and an orphan
        order: each rule reports exactly its violation."""
        import datetime as dt

        t = dt.datetime(2024, 1, 1)
        ev = [
            (1, t, None, "view", 1.0, "{}"),
            (2, t, 5, "view", 2000.0, "{}"),
            (3, t, 5, "view", 10.0, "{}"),
        ]
        self._mini_events(spark, tmp_path, ev)
        spark.createDataFrame(
            [(1, "doc one", "en", "s", 7)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet")
        )
        spark.createDataFrame(
            [(1, 999, "O", 10.0, t, "1-URGENT")],
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "orders.parquet")
        )
        spark.createDataFrame(
            [(0, "c", "BUILDING")], "c_custkey long, c_name string, c_mktsegment string"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "customer.parquet")
        )
        spark.createDataFrame(
            [(1, 10, 1)], "l_orderkey long, l_partkey long, l_linenumber long"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "lineitem.parquet")
        )
        from ballista_delta_spark.queries.pipeline import dq_expectations

        got = {
            r["expectation"]: r for r in dq_expectations(spark, str(tmp_path)).collect()
        }
        assert got["user_id_not_null"]["n_violations"] == 1
        assert got["value_in_range_0_1000"]["n_violations"] == 1
        assert got["custkey_references_customer"]["n_violations"] == 1
        assert got["orderkey_references_orders"]["n_violations"] == 0
        assert got["n_chars_matches_text"]["pass"] is True


def test_interval_overlap_matches_bruteforce_random(spark, tmp_path):
    """Seeded random fixture: 120 user-day spans -> the banded plan's
    per-day pair counts and overlap sums must equal a pure-Python
    all-pairs reference (catches banding/dedup mistakes the planted
    example can't)."""
    import datetime as dt
    import random

    rng = random.Random(42)
    rows, eid = [], 0
    spans = []
    for day in range(3):
        base = dt.datetime(2024, 5, 1 + day)
        for u in range(40):
            a = rng.randrange(0, 86_000)
            b = rng.randrange(0, 86_000)
            lo, hi = (a, b) if a <= b else (b, a)
            spans.append((day, u, lo, hi))
            for t in (lo, hi):
                eid += 1
                rows.append(
                    (eid, base + dt.timedelta(seconds=t), u, "view", 1.0, "{}")
                )
    p = os.path.join(str(tmp_path), "events.parquet")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(p)

    # pure-Python reference
    expect = {}
    for day in range(3):
        todays = [s for s in spans if s[0] == day]
        n, tot = 0, 0
        for i in range(len(todays)):
            for j in range(i + 1, len(todays)):
                _, ua, la, ha = todays[i]
                _, ub, lb, hb = todays[j]
                if ua == ub:
                    continue
                ov = min(ha, hb) - max(la, lb)
                if ov >= 1800:
                    n += 1
                    tot += ov
        if n:
            expect[dt.date(2024, 5, 1 + day)] = (n, round(tot / n, 4))

    from ballista_delta_spark.queries.joins import QUERIES

    fn, _ = QUERIES["join_interval_overlap"]
    got = {
        r["day"]: (r["n_pairs"], r["avg_overlap_s"])
        for r in fn(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_ewma_matches_recursion(spark, tmp_path):
    """The grid closed form must equal the textbook recursion
    ewma_t = 0.5*x_t + 0.5*ewma_{t-1} seeded at x_0, on a planted
    5-day series."""
    import datetime as dt

    from ballista_delta_spark.queries.pipeline import events_ewma_chart

    vals = [10.0, 20.0, 40.0, 40.0, 10.0]
    rows = [
        (i, dt.datetime(2024, 1, 1 + i), 1, "view", v, "{}")
        for i, v in enumerate(vals)
    ]
    p = os.path.join(str(tmp_path), "events.parquet")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    out = sorted(
        events_ewma_chart(spark, str(tmp_path)).collect(),
        key=lambda r: r["day"],
    )
    ref = vals[0]
    assert abs(out[0]["ewma"] - ref) < 1e-6
    for i in range(1, len(vals)):
        ref = 0.5 * vals[i] + 0.5 * ref
        assert abs(out[i]["ewma"] - ref) < 1e-6, (i, out[i]["ewma"], ref)
        assert abs(out[i]["deviation"] - (vals[i] - (out[i - 1]["ewma"]))) < 1e-6


class TestR9iBehaviorC:
    """Planted-answer checks for the third r9i batch."""

    def _mini_docs(self, spark, tmp_path, rows):
        p = os.path.join(str(tmp_path), "documents.parquet")
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        return str(tmp_path)

    def _mini_events(self, spark, tmp_path, rows):
        p = os.path.join(str(tmp_path), "events.parquet")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        return str(tmp_path)

    def test_boilerplate_finds_planted_header(self, spark, tmp_path):
        """4 of 6 docs in source 'web' open with the same cookie banner
        -> top prefix with doc_share 4/6; the unique openings never
        reach the top-3 (min count 2)."""
        from ballista_delta_spark.queries.text import text_boilerplate_prefix

        banner = "we use cookies to improve"
        rows = [
            (i, f"{banner} page {i} body text", "en", "web", 30)
            for i in range(4)
        ]
        rows += [
            (10, "totally unique opening one here", "en", "web", 30),
            (11, "another unique opening two here", "en", "web", 30),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        out = text_boilerplate_prefix(spark, sf).collect()
        assert len(out) == 1
        r = out[0]
        assert r["prefix"] == banner and r["n_docs"] == 4
        assert abs(r["doc_share"] - 4 / 6) < 1e-6

    def test_skew_kurtosis_symmetric_two_point(self, spark, tmp_path):
        """A symmetric two-point distribution {10, 30} has skewness 0
        and excess kurtosis -2 (the two-point minimum)."""
        import datetime as dt

        from ballista_delta_spark.queries.aggregates import agg_skew_kurtosis

        t = dt.datetime(2024, 1, 1)
        rows = [
            (i, t, 1, "view", v, "{}")
            for i, v in enumerate([10.0, 30.0] * 8)
        ]
        sf = self._mini_events(spark, tmp_path, rows)
        r = agg_skew_kurtosis(spark, sf).collect()[0]
        assert r["skewness"] == 0.0
        assert r["kurtosis"] == -2.0

    def test_try_safe_counts_each_failure_class(self, spark, tmp_path):
        """Three events: value 50 (floor/100=0 -> div NULL), value 250
        (ok), and event_id 0 (overflow add is LEGAL at id 0 -> not
        null). Bad cast + OOB index are NULL for every row."""
        import datetime as dt

        from ballista_delta_spark.queries.functions_q import fn_try_safe

        t = dt.datetime(2024, 1, 1)
        rows = [
            (0, t, 1, "view", 50.0, "{}"),
            (1, t, 1, "view", 250.0, "{}"),
            (2, t, 1, "view", 250.0, "{}"),
        ]
        sf = self._mini_events(spark, tmp_path, rows)
        r = fn_try_safe(spark, sf).collect()[0]
        assert r["n"] == 3
        assert r["n_bad_cast"] == 3      # 'view' never casts to INT
        assert r["n_div_zero"] == 1      # only value 50 -> bucket 0
        assert r["n_overflow"] == 2      # ids 1,2 overflow; id 0 legal
        assert r["n_oob_index"] == 3     # index 99 out of range always

    def test_knn_graph_planted_neighbors(self, spark, tmp_path):
        """Four near-identical vectors + four opposite-sign vectors:
        each vector's top neighbors come from its own sign family
        (same LSH bucket, cosine ~1), never the opposite family."""
        import numpy as np

        base = np.zeros(64)
        base[:8] = 1.0
        vecs = []
        for i in range(4):
            v = base.copy(); v[8 + i] = 0.01
            vecs.append(v)
        for i in range(4):
            v = -base.copy(); v[20 + i] = -0.01
            vecs.append(v)
        p = os.path.join(str(tmp_path), "embeddings.parquet")
        spark.createDataFrame(
            [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        from ballista_delta_spark.queries.similarity import emb_knn_graph

        rows = emb_knn_graph(spark, str(tmp_path)).collect()
        fam = lambda i: 0 if i < 4 else 1
        assert rows, "graph must not be empty"
        for r in rows:
            assert fam(r["src"]) == fam(r["dst"]), r
            assert r["cos_sim"] > 0.99, r


def test_survival_curve_km_with_censoring(spark, tmp_path):
    """Planted lifetimes: users A,B churn at age 1, C churns at age 2,
    D is still active on the final day (censored at age 3). KM:
    S(1) = 1 - 2/4 = 0.5; S(2) = 0.5 * (1 - 1/2) = 0.25; the age-3 row
    carries d_churn 0 (censoring is not a death) so S stays 0.25."""
    import datetime as dt

    from ballista_delta_spark.queries.pipeline import events_survival_curve

    d0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def span(u, days):
        nonlocal eid
        for k in (0, days):
            eid += 1
            rows.append((eid, d0 + dt.timedelta(days=k), u, "view", 1.0, "{}"))

    span(1, 1)
    span(2, 1)
    span(3, 2)
    span(4, 3)  # ends on the corpus max day -> censored
    p = os.path.join(str(tmp_path), "events.parquet")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    out = {r["age"]: r for r in events_survival_curve(spark, str(tmp_path)).collect()}
    assert out[1]["n_at_risk"] == 4 and out[1]["d_churn"] == 2
    assert out[1]["survival"] == 0.5
    assert out[2]["n_at_risk"] == 2 and out[2]["d_churn"] == 1
    assert out[2]["survival"] == 0.25
    assert out[3]["d_churn"] == 0 and out[3]["survival"] == 0.25


def test_peak_concurrency_planted_sweep(spark, tmp_path):
    """Three spans on one day: A 10-14h, B 12-18h, C 13-13:30 ->
    peak 3 at 13:00. D (18h-19h) starts AT B's end instant: spans are
    CLOSED intervals (the -1 lands at e+1us), so B and D overlap for
    that one instant — concurrency 2 at 18:00, still below the peak."""
    import datetime as dt

    from ballista_delta_spark.queries.pipeline import events_peak_concurrency

    d0 = dt.datetime(2024, 2, 1)
    rows, eid = [], 0

    def span(u, h1, m1, h2, m2):
        nonlocal eid
        for h, m in ((h1, m1), (h2, m2)):
            eid += 1
            rows.append(
                (eid, d0 + dt.timedelta(hours=h, minutes=m), u, "view", 1.0, "{}")
            )

    span(1, 10, 0, 14, 0)
    span(2, 12, 0, 18, 0)
    span(3, 13, 0, 13, 30)
    span(4, 18, 0, 19, 0)  # starts AT B's end instant
    p = os.path.join(str(tmp_path), "events.parquet")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    out = events_peak_concurrency(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["peak_concurrency"] == 3
    assert out[0]["peak_at"] == d0 + dt.timedelta(hours=13)


class TestR9iBehaviorD:
    """Planted-answer checks for the sixth r9i batch."""

    def _mini_docs(self, spark, tmp_path, rows):
        p = os.path.join(str(tmp_path), "documents.parquet")
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        return str(tmp_path)

    def test_gini_extremes(self, spark, tmp_path):
        """Equal lengths -> Gini 0; one doc owning almost everything ->
        Gini near (n-1)/n - small."""
        from ballista_delta_spark.queries.pipeline import corpus_doc_length_gini

        rows = [(i, "x", "en", "equal", 100) for i in range(4)]
        rows += [(10 + i, "x", "en", "skewed", 1) for i in range(3)]
        rows += [(20, "x", "en", "skewed", 997)]
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {r["source"]: r["gini"] for r in corpus_doc_length_gini(spark, sf).collect()}
        assert got["equal"] == 0.0
        # exact: ranks 1..4 lengths (1,1,1,997):
        # G = 2*(1+2+3+4*997)/(4*1000) - 5/4 = 2*3994/4000 - 1.25 = 0.747
        assert abs(got["skewed"] - 0.747) < 1e-9

    def test_winsorized_mean_clamps_the_outlier(self, spark, tmp_path):
        """19 values of 10 and one 1000: the p95 fence clamps the
        outlier, so winsorized/trimmed means sit near 10 while the raw
        mean is dragged to 59.5."""
        import datetime as dt

        from ballista_delta_spark.queries.aggregates import agg_winsorized_mean

        t = dt.datetime(2024, 1, 1)
        rows = [(i, t, 1, "view", 10.0, "{}") for i in range(19)]
        rows.append((99, t, 1, "view", 1000.0, "{}"))
        p = os.path.join(str(tmp_path), "events.parquet")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        r = agg_winsorized_mean(spark, str(tmp_path)).collect()[0]
        assert r["raw_mean"] == 59.5
        assert r["winsorized_mean"] < 65 and r["winsorized_mean"] >= 10
        assert r["trimmed_mean"] == 10.0

    def test_bootstrap_replicates_differ_and_conserve(self, spark, sf_dir):
        """Over the real fixture: all 8 replicates exist, effective
        sizes hover around the corpus size (Poisson(1) mean 1), and at
        least two replicates differ (the resampling is real)."""
        from ballista_delta_spark.queries.sampling import sample_bootstrap_ci

        rows = sample_bootstrap_ci(spark, sf_dir).collect()
        assert len(rows) == 8
        n_docs = 500
        for r in rows:
            assert 0.8 * n_docs < r["n_effective"] < 1.2 * n_docs
        assert len({r["mean_chars"] for r in rows}) > 1

    def test_threshold_sweep_bands_planted_pairs(self, spark, tmp_path):
        """One exact-dup pair (jaccard 1.0 -> band 19) and one
        mid-similarity pair land in different bands with 2 docs each."""
        from ballista_delta_spark.queries.dedup import dedup_threshold_sweep

        base = " ".join(f"t{i}" for i in range(20))
        near = base.replace("t19", "x19").replace("t18", "x18").replace(
            "t17", "x17"
        )
        rows = [
            (1, base, "en", "s", len(base)),
            (2, base, "en", "s", len(base)),
            (3, near, "en", "s", len(near)),
        ]
        sf = self._mini_docs(spark, tmp_path, rows)
        got = {r["band"]: r for r in dedup_threshold_sweep(spark, sf).collect()}
        assert 19 in got and got[19]["n_pairs"] >= 1  # the exact pair
        assert any(b < 19 for b in got), got  # the near pair lands lower


def test_cusum_closed_form_matches_recursion(spark, tmp_path):
    """The prefix closed form S_t = P_t - min(0, min P_j) must equal
    the textbook clipped recursion on a planted drift series."""
    import datetime as dt

    from ballista_delta_spark.queries.pipeline import events_cusum_alert

    # 7 baseline days at 10, then a persistent +6 shift
    vals = [10.0] * 7 + [16.0] * 5
    rows = [
        (i, dt.datetime(2024, 1, 1 + i), 1, "view", v, "{}")
        for i, v in enumerate(vals)
    ]
    p = os.path.join(str(tmp_path), "events.parquet")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    out = sorted(
        events_cusum_alert(spark, str(tmp_path)).collect(),
        key=lambda r: r["day"],
    )
    mu, sigma = 10.0, 0.0  # flat baseline
    s = 0.0
    for i, v in enumerate(vals):
        s = max(0.0, s + (v - mu - sigma / 2))
        assert abs(out[i]["cusum_stat"] - s) < 1e-6, (i, out[i], s)
    # with sigma 0 any positive S alerts; the shift days must all flag
    assert all(r["drift_alert"] for r in out[7:])
    assert not any(r["drift_alert"] for r in out[:7])
