"""Round-14 directed pins for the ADVICE r13 findings.

1. NaN-blind fractional pruning (sources/delta.py): parquet footer stats
   exclude NaN from min/max while Spark orders NaN above every double, so
   a {lit, NaN} chunk reports min==max==lit yet its NaN row satisfies
   != / > / >= — the scanner must refuse to judge those ops on
   float/double FILE stats (partition values stay exact and judgeable).
2. text_bpe_merge_step empty-corpus guard (queries/text.py): a corpus
   where no word has >= 2 symbols used to raise IndexError on
   collect()[0]; the oracle SQL returns an empty result there.
3. text_bpe_merge_step backslash-safe merge (queries/text.py): the old
   SQL-string splice doubled quotes but not backslashes, so a winning
   pair containing '\\' was re-lexed as an escape sequence.
"""
from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import types as T


class _FakeSnap:
    def __init__(self, files, schema, part_cols=()):
        self.files = files
        self.schema = schema
        self.partition_columns = list(part_cols)

    def physical(self, c):
        return c


def _stats(mins, maxs, nulls, n):
    return json.dumps({
        "numRecords": n, "minValues": mins, "maxValues": maxs,
        "nullCount": nulls,
    })


class TestNaNFractionalPruning:
    SCHEMA = T.StructType([
        T.StructField("x", T.DoubleType()),
        T.StructField("f", T.FloatType()),
        T.StructField("k", T.LongType()),
    ])

    def _snap(self):
        # One file whose footer-style stats say x is the constant 5.0 —
        # but (as with any parquet footer) a NaN row would be invisible
        # to min/max, so no fractional != / > / >= may prune it.
        files = {
            "const": {"stats": _stats(
                {"x": 5.0, "f": 5.0, "k": 5}, {"x": 5.0, "f": 5.0, "k": 5},
                {"x": 0, "f": 0, "k": 0}, 3,
            )},
        }
        return _FakeSnap(files, self.SCHEMA)

    @pytest.mark.parametrize("pred", [
        "x != 5.0", "x <> 5.0", "x > 9.0", "x >= 9.0",
        "f != 5.0", "f > 9.0", "f >= 5.5",
    ])
    def test_fractional_ne_gt_ge_never_prune_on_file_stats(
        self, spark, pred
    ):
        from ballista_delta_spark.sources.delta import skip_files

        kept = skip_files(self._snap(), pred)
        assert "const" in kept, pred

    @pytest.mark.parametrize("pred", [
        "x < 1.0", "x <= 1.0", "x = 9.0", "x in (1.0, 2.0)",
    ])
    def test_fractional_lt_le_eq_still_prune(self, spark, pred):
        # NaN never satisfies < / <= / = / IN for a non-NaN literal, so
        # these stay judgeable — the fix must not widen them.
        from ballista_delta_spark.sources.delta import skip_files

        kept = skip_files(self._snap(), pred)
        assert "const" not in kept, pred

    @pytest.mark.parametrize("pred", ["k != 5", "k > 9", "k >= 9"])
    def test_integer_columns_keep_judging(self, spark, pred):
        from ballista_delta_spark.sources.delta import skip_files

        kept = skip_files(self._snap(), pred)
        assert "const" not in kept, pred

    def test_fractional_partition_values_stay_judgeable(self, spark):
        # Partition values carry the exact value (no NaN blindness), so
        # x > / != on a PARTITION double still prunes.
        from ballista_delta_spark.sources.delta import skip_files

        schema = T.StructType([
            T.StructField("x", T.DoubleType()),
            T.StructField("k", T.LongType()),
        ])
        files = {
            "p5": {"partitionValues": {"x": "5.0"}, "stats": _stats(
                {"k": 1}, {"k": 9}, {"k": 0}, 3)},
        }
        snap = _FakeSnap(files, schema, part_cols=["x"])
        assert "p5" not in skip_files(snap, "x > 9.0")
        assert "p5" not in skip_files(snap, "x != 5.0")
        assert "p5" in skip_files(snap, "x > 1.0")


def _write_docs(tmp_path, docs):
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame({
        "doc_id": range(len(docs)),
        "text": docs,
        "lang": ["en"] * len(docs),
        "source": ["s"] * len(docs),
        "n_chars": [len(t) for t in docs],
    }).to_parquet(os.path.join(d, "documents.parquet"))
    return d


class TestBpeMergeStepGuards:
    def test_single_symbol_corpus_returns_empty(self, spark, tmp_path):
        from ballista_delta_spark.queries.text import text_bpe_merge_step

        d = _write_docs(tmp_path, ["a b c", "a a b"])
        out = text_bpe_merge_step(spark, d)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "merged_pair", "pair", "cnt", "rnk",
        ]

    def test_empty_corpus_returns_empty(self, spark, tmp_path):
        from ballista_delta_spark.queries.text import text_bpe_merge_step

        d = _write_docs(tmp_path, [])
        assert text_bpe_merge_step(spark, d).count() == 0

    def test_backslash_pair_merges_literally(self, spark, tmp_path):
        from ballista_delta_spark.queries.text import text_bpe_merge_step

        # Every word is three backslashes: segmentation '\ \ \', the only
        # (and winning) pair is '\ \'; a left-to-right non-overlapping
        # literal replace yields '\\ \' whose single remaining pair is
        # ('\\', '\'). The old spliced form re-lexed the backslashes.
        d = _write_docs(tmp_path, ["\\\\\\"] * 4)
        rows = text_bpe_merge_step(spark, d).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["merged_pair"] == "\\ \\"
        assert r["pair"] == "\\\\ \\"
        assert r["cnt"] == 4 and r["rnk"] == 1

    def test_quote_pair_still_merges(self, spark, tmp_path):
        from ballista_delta_spark.queries.text import text_bpe_merge_step

        # The case the old escaping DID handle — keep it working.
        d = _write_docs(tmp_path, ["'''"] * 4)
        rows = text_bpe_merge_step(spark, d).collect()
        assert len(rows) == 1
        assert rows[0]["merged_pair"] == "' '"
        assert rows[0]["pair"] == "'' '"


class TestFnUrlParse:
    def test_differential_vs_urllib(self, spark, sf_dir):
        """Spark's try_parse_url (java.net.URI) vs urllib.parse.urlsplit
        on every synthesized URL at sf0.001 — same independent-oracle
        method as the r13 canonicalizer differential."""
        from urllib.parse import parse_qs, urlsplit

        from ballista_delta_spark.queries.functions_q import fn_url_parse

        rows = fn_url_parse(spark, sf_dir).collect()
        assert rows
        saw_bad = saw_query = saw_ref = False
        for r in rows:
            if r["doc_id"] % 11 == 0:
                saw_bad = True
                assert r["proto"] is None and r["host"] is None
                assert r["path"] is None and r["query"] is None
                continue
            sp = urlsplit(r["url"])
            assert r["proto"].lower() == sp.scheme.lower()
            assert r["host"] == sp.netloc
            assert r["path"] == sp.path
            assert r["query"] == (sp.query or None)
            assert r["ref"] == (sp.fragment or None)
            qs = parse_qs(sp.query, keep_blank_values=True)
            assert r["q_a"] == (qs.get("a", [None])[0])
            assert r["q_ref"] == (qs.get("ref", [None])[0])
            saw_query = saw_query or r["query"] is not None
            saw_ref = saw_ref or r["ref"] is not None
        assert saw_bad and saw_query and saw_ref


def _write_events(tmp_path, rows):
    import datetime as dt

    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame({
        "event_id": range(len(rows)),
        "ts": [dt.datetime(2024, 1, 1) + dt.timedelta(days=day, hours=1)
               for day, _, _ in rows],
        "user_id": [1] * len(rows),
        "event_type": [et for _, et, _ in rows],
        "value": [v for _, _, v in rows],
        "props": ["{}"] * len(rows),
    }).to_parquet(os.path.join(d, "events.parquet"))
    return d


class TestHoltLevelStep:
    def test_step_matches_hand_computed(self, spark, tmp_path):
        from ballista_delta_spark.queries.pipeline import (
            _HOLT_ALPHA, _HOLT_BETA, events_holt_level_step,
        )

        # two event types; day means: a -> [10.0, 16.0], b -> [4.0, 3.0]
        rows = [
            (0, "a", 8.0), (0, "a", 12.0), (1, "a", 16.0),
            (0, "b", 4.0), (1, "b", 2.0), (1, "b", 4.0),
        ]
        d = _write_events(tmp_path, rows)
        got = {r["event_type"]: r
               for r in events_holt_level_step(spark, d).collect()}
        for et, y0, y1 in [("a", 10.0, 16.0), ("b", 4.0, 3.0)]:
            r = got[et]
            level = _HOLT_ALPHA * y1 + (1 - _HOLT_ALPHA) * y0
            trend = _HOLT_BETA * (level - y0)
            assert r["day_mean"] == y1
            assert abs(r["level"] - level) < 1e-12
            assert abs(r["trend"] - trend) < 1e-12
            assert abs(r["forecast_next"] - (level + trend)) < 1e-12
            assert abs(r["one_step_err"] - (y1 - y0)) < 1e-12

    def test_single_day_type_yields_nulls(self, spark, tmp_path):
        from ballista_delta_spark.queries.pipeline import (
            events_holt_level_step,
        )

        d = _write_events(tmp_path, [(0, "solo", 5.0)])
        r = events_holt_level_step(spark, d).collect()[0]
        assert r["day_mean"] is None and r["level"] is None

    def test_holt_smooth_matches_reference_recursion(self, spark, tmp_path):
        from ballista_delta_spark.queries.pipeline import holt_smooth

        series = {"a": [10.0, 16.0, 12.0, 20.0, 18.0],
                  "b": [4.0, 3.0, 5.0]}
        rows = [
            (day, et, v)
            for et, ys in series.items()
            for day, v in enumerate(ys)
        ]
        d = _write_events(tmp_path, rows)
        got = {r["event_type"]: r for r in holt_smooth(spark, d).collect()}
        for et, ys in series.items():
            level, trend = ys[0], 0.0
            for y in ys[1:]:
                prev = level
                level = 0.3 * y + 0.7 * (level + trend)
                trend = 0.2 * (level - prev) + 0.8 * trend
            assert abs(got[et]["level"] - level) < 1e-12, et
            assert abs(got[et]["trend"] - trend) < 1e-12, et
            assert abs(got[et]["forecast_next"] - (level + trend)) < 1e-12


_MINI_SCHEMA = (
    '{"type":"struct","fields":[{"name":"k","type":"long",'
    '"nullable":true,"metadata":{}}]}'
)


def _mini_table(tmp_path, adds, name="enc"):
    """Hand-written single-commit table (protocol 1/2, no data reads)."""
    import ballista_delta_spark.sources.delta as D

    tbl = str(tmp_path / name)
    log = os.path.join(tbl, "_delta_log")
    os.makedirs(log)
    lines = [
        json.dumps({"commitInfo": {"timestamp": 1_600_000_000_000}}),
        json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 2,
        }}),
        json.dumps({"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": _MINI_SCHEMA, "partitionColumns": [],
            "configuration": {}, "createdTime": 1,
        }}),
    ] + [
        json.dumps({"add": {
            "path": p, "partitionValues": {}, "size": 1,
            "modificationTime": 1, "dataChange": True,
        }})
        for p in adds
    ]
    with open(D._version_file(log, 0), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return tbl


class TestEncodedPathDestructiveGuards:
    """r14 review: the spec stores add paths percent-encoded; a foreign
    table's '%20' spelling points at a decoded on-disk name. The
    DESTRUCTIVE passes must recognize either spelling — guessing wrong
    removes live data (fsck drops the add; vacuum unlinks the file)."""

    def test_fsck_sees_decoded_spelling_as_present(self, tmp_path):
        from ballista_delta_spark.sources.delta import fsck_repair

        tbl = _mini_table(tmp_path, ["my%20file.parquet"])
        with open(os.path.join(tbl, "my file.parquet"), "wb") as fh:
            fh.write(b"x")
        out = fsck_repair(tbl, dry_run=True)
        assert out["numMissingFiles"] == 0, out

    def test_vacuum_keeps_decoded_spelling_of_tracked_file(self, tmp_path):
        from ballista_delta_spark.sources.delta import vacuum

        tbl = _mini_table(tmp_path, ["my%20file.parquet"])
        fp = os.path.join(tbl, "my file.parquet")
        with open(fp, "wb") as fh:
            fh.write(b"x")
        os.utime(fp, (1, 1))  # ancient mtime: untracked would be swept
        deleted = vacuum(tbl, retention_ms=0, dry_run=True)
        assert deleted == [], deleted
        # control: a genuinely untracked old file IS swept
        orphan = os.path.join(tbl, "orphan.parquet")
        with open(orphan, "wb") as fh:
            fh.write(b"x")
        os.utime(orphan, (1, 1))
        deleted = vacuum(tbl, retention_ms=0, dry_run=True)
        assert deleted == ["orphan.parquet"], deleted


def test_bins_named_since_survives_skewed_timestamps(tmp_path):
    """r14 review: without ICT, commitInfo stamps can be non-monotonic.
    An in-window commit naming a DV bin must stay protected even when a
    NEWER version carries an older (skewed) stamp — the old early-break
    dropped everything below it."""
    import ballista_delta_spark.sources.delta as D

    tbl = _mini_table(tmp_path, ["a.parquet"])
    log = os.path.join(tbl, "_delta_log")
    dvd = {
        "storageType": "u", "pathOrInlineDv": "ab" * 10,
        "offset": 1, "sizeInBytes": 8, "cardinality": 1,
    }
    # v1: IN-window stamp, names the DV
    with open(D._version_file(log, 1), "w") as fh:
        fh.write(json.dumps(
            {"commitInfo": {"timestamp": 2_000}}
        ) + "\n" + json.dumps({"add": {
            "path": "a.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 1, "dataChange": False,
            "deletionVector": dvd,
        }}) + "\n")
    # v2: skewed OLD stamp on top of it
    with open(D._version_file(log, 2), "w") as fh:
        fh.write(json.dumps(
            {"commitInfo": {"timestamp": 50}}
        ) + "\n" + json.dumps({"remove": {
            "path": "b.parquet", "deletionTimestamp": 50,
            "dataChange": True,
        }}) + "\n")
    out = D._bins_named_since(tbl, horizon_ts=1_000)
    from ballista_delta_spark.sources import dv as _dv

    want = os.path.abspath(_dv.dv_file_path(tbl, dvd))
    assert want in out, out


class TestRfc2396PathParity:
    """r14: the coordinated encode-on-write / decode-on-read change the
    ADVICE OPEN note called for. add/remove/cdc paths are recorded as
    RFC 2396 spellings (spec) and every fs-join site decodes; identity
    for every name this engine wrote before (uuid parts, plain Hive
    dirs), lossless for partition values that force Spark's own '%'
    dir-escaping."""

    def test_special_char_partition_round_trip(self, spark, tmp_path):
        from ballista_delta_spark.sources.delta import (
            _load_snapshot, read_delta, vacuum, write_delta,
        )

        tbl = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b"), (3, "x%y"), (4, "plain")],
            "id int, p string",
        )
        write_delta(df, tbl, partition_by=["p"])
        snap = _load_snapshot(tbl)
        # the space partition's add.path must carry the %20 spelling
        assert any("%20" in rel for rel in snap.files), list(snap.files)
        # Spark escapes '%' in the dir name; the log re-encodes that
        assert any("%2525" in rel for rel in snap.files), list(snap.files)
        got = sorted(
            (r.id, r.p) for r in read_delta(spark, tbl).collect()
        )
        assert got == [(1, "a b"), (2, "a b"), (3, "x%y"), (4, "plain")]
        # the where= skip path and vacuum both resolve the same files
        assert read_delta(spark, tbl, where="id > 2").count() == 2
        assert vacuum(tbl, retention_ms=0, dry_run=True) == []

    def test_dml_and_cdf_on_encoded_partitions(self, spark, tmp_path):
        from ballista_delta_spark.sources.delta import (
            alter_properties, read_delta, read_delta_changes, write_delta,
        )
        from ballista_delta_spark.sources.delta_dml import delete_delta

        tbl = str(tmp_path / "t")
        write_delta(
            spark.createDataFrame(
                [(i, "a b" if i % 2 else "c%d") for i in range(8)],
                "id int, p string",
            ),
            tbl, partition_by=["p"],
        )
        alter_properties(
            spark, tbl, {"delta.enableChangeDataFeed": "true"}
        )
        out = delete_delta(spark, tbl, "id >= 6")
        assert out.get("numRemovedRows", out.get("num_affected_rows", 2))
        assert sorted(
            r.id for r in read_delta(spark, tbl).collect()
        ) == list(range(6))
        ch = read_delta_changes(spark, tbl, 1)
        assert sorted(
            r.id for r in ch.filter("_change_type = 'delete'").collect()
        ) == [6, 7]

    def test_clone_of_encoded_table(self, spark, tmp_path):
        from ballista_delta_spark.sources.delta import (
            clone_delta, read_delta, write_delta,
        )

        src = str(tmp_path / "src")
        write_delta(
            spark.createDataFrame(
                [(1, "a b"), (2, "x%y")], "id int, p string"
            ),
            src, partition_by=["p"],
        )
        for deep, name in ((True, "deep"), (False, "shallow")):
            dst = str(tmp_path / name)
            clone_delta(src, dst, deep=deep)
            got = sorted(
                (r.id, r.p) for r in read_delta(spark, dst).collect()
            )
            assert got == [(1, "a b"), (2, "x%y")], (name, got)

    def test_foreign_encoded_relative_path_reads(self, spark, tmp_path):
        """A hand-written (foreign-style) log whose add.path carries the
        RFC spelling of an unpartitioned file with a space."""
        import pandas as pd2

        from ballista_delta_spark.sources.delta import read_delta

        tbl = _mini_table(tmp_path, ["my%20data.parquet"], name="foreign")
        pd2.DataFrame({"k": [1, 2, 3]}).to_parquet(
            os.path.join(tbl, "my data.parquet")
        )
        got = sorted(r.k for r in read_delta(spark, tbl).collect())
        assert got == [1, 2, 3]

    def test_raw_recorded_percent_name_still_reads(self, spark, tmp_path):
        """Back-compat: pre-r14 this engine recorded paths RAW, so a
        Spark-escaped partition dir ('%' -> '%25') appears verbatim in
        old logs. The decoded spelling doesn't exist on disk — the
        _fs_join fallback must find the raw one instead of failing a
        table that read fine before the encode change."""
        import pandas as pd2

        from ballista_delta_spark.sources.delta import read_delta

        tbl = _mini_table(tmp_path, ["data%25x.parquet"], name="legacy")
        pd2.DataFrame({"k": [7, 8]}).to_parquet(
            os.path.join(tbl, "data%25x.parquet")
        )
        got = sorted(r.k for r in read_delta(spark, tbl).collect())
        assert got == [7, 8]

    def test_fs_join_spelling_preference(self, tmp_path):
        from ballista_delta_spark.sources.delta import _fs_join

        root = str(tmp_path)
        # neither exists -> the spec (decoded) spelling
        assert _fs_join(root, "a%20b") == os.path.join(root, "a b")
        # only the raw spelling exists -> raw (legacy table)
        open(os.path.join(root, "a%20b"), "w").close()
        assert _fs_join(root, "a%20b") == os.path.join(root, "a%20b")
        # decoded exists -> decoded wins even when both do
        open(os.path.join(root, "a b"), "w").close()
        assert _fs_join(root, "a%20b") == os.path.join(root, "a b")
        # '%'-free rels never touch the filesystem path logic
        assert _fs_join(root, "plain.parquet") == os.path.join(
            root, "plain.parquet"
        )


def test_classic_named_v2_manifest_replays_sidecars(spark, tmp_path):
    """Reader soundness: a v2-spec checkpoint manifest under CLASSIC
    naming (spec-legal) must resolve its _sidecars/ files in the LOCAL
    replay too — kind-gating the sidecar pass on uuid naming replayed
    such a table to zero adds (silent empty result)."""
    import glob as _glob

    from ballista_delta_spark.sources.delta import (
        alter_properties, create_checkpoint, read_delta, write_delta,
        cleanup_log,
    )

    tbl = str(tmp_path / "t")
    write_delta(spark.range(25).selectExpr("id"), tbl)
    alter_properties(spark, tbl, {"delta.checkpointPolicy": "v2"})
    v = create_checkpoint(tbl)
    log = os.path.join(tbl, "_delta_log")
    [uuid_ck] = _glob.glob(
        os.path.join(log, f"{v:020d}.checkpoint.*-*.parquet")
    )
    os.rename(uuid_ck, os.path.join(log, f"{v:020d}.checkpoint.parquet"))
    # drop the JSON commits so replay MUST come from the checkpoint
    cleanup_log(tbl, retention_ms=0)
    for j in _glob.glob(os.path.join(log, "*.json")):
        os.unlink(j)
    got = sorted(r.id for r in read_delta(spark, tbl).collect())
    assert got == list(range(25))


def test_vacuum_reclaims_old_change_data(spark, tmp_path):
    """r14: delta-spark's VacuumCommand carves _change_data out of the
    hidden-dir rule — cdc files are reclaimed by the same retention
    window as data files (they are never add-referenced, so without
    this a CDF-heavy table leaks them forever). In-window change files
    must stay readable."""
    import glob as _glob

    from ballista_delta_spark.sources.delta import (
        alter_properties, read_delta_changes, vacuum, write_delta,
    )
    from ballista_delta_spark.sources.delta_dml import update_delta

    tbl = str(tmp_path / "t")
    write_delta(spark.range(10).selectExpr("id"), tbl)
    alter_properties(spark, tbl, {"delta.enableChangeDataFeed": "true"})
    update_delta(spark, tbl, "id = 3", {"id": "33"})
    cdcs = _glob.glob(os.path.join(tbl, "_change_data", "*.parquet"))
    assert cdcs

    # in-window: fresh cdc files survive and CDF still reads them
    assert vacuum(tbl, retention_ms=10**9, dry_run=True) == []
    # age them past the window -> swept
    for c in cdcs:
        os.utime(c, (1, 1))
    deleted = vacuum(tbl, retention_ms=10**9)
    for c in cdcs:
        assert os.path.relpath(c, tbl) in deleted, (c, deleted)
        assert not os.path.exists(c)
    # the live table is untouched
    from ballista_delta_spark.sources.delta import read_delta

    got = sorted(r.id for r in read_delta(spark, tbl).collect())
    assert got == sorted([0, 1, 2, 33, 4, 5, 6, 7, 8, 9])
    # and the CDF read over the reclaimed range now fails LOUD, never
    # silently empty (delta-spark parity)
    import pytest as _pytest

    with _pytest.raises(Exception, match="[Pp]ath|not exist|No such"):
        read_delta_changes(spark, tbl, 1).collect()


def test_cdf_net_diff_across_add_column(spark, tmp_path):
    """r14 fuzzer find: the net endpoint diff selects the range's FINAL
    schema over the OLD snapshot's subset — a column added mid-range
    died on UNRESOLVED_COLUMN instead of null-filling (and the same
    projection now upcasts across a widening)."""
    from ballista_delta_spark.sources.delta import (
        alter_properties, read_delta_changes, write_delta,
    )
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, val long"), tbl
    )
    alter_properties(spark, tbl, {"delta.enableChangeDataFeed": "true"})
    delete_delta(spark, tbl, "id = 1")                      # v2 (cdc)
    write_delta(
        spark.createDataFrame(
            [(3, 30, "x")], "id long, val long, extra string"
        ),
        tbl, mode="append", merge_schema=True,
    )                                                       # v3 evolve

    # per-commit stream: pre-evolution cdc rows null-fill `extra`
    rows = read_delta_changes(spark, tbl, 1).collect()
    got = {
        (r.id, r.val, r.extra, r["_change_type"], r["_commit_version"])
        for r in rows
    }
    assert got == {
        (1, 10, None, "delete", 2),
        (3, 30, "x", "insert", 3),
    }, got
    # net endpoint diff: the old side (pre-evolution files) null-fills
    net = read_delta_changes(spark, tbl, 1, net=True).collect()
    got_net = {(r.id, r.val, r.extra, r["_change_type"]) for r in net}
    assert got_net == {
        (1, 10, None, "delete"),
        (3, 30, "x", "insert"),
    }, got_net
