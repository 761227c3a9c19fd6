"""Round-13 ADVICE/VERDICT regression pins.

1. SQL comments in data-skipping predicates (ADVICE r12 medium):
   Spark's lexer treats '--'-to-EOL and '/*...*/' as whitespace, so
   'k = 1 -- note AND m = 9' filters as k = 1. The scanner must never
   read comment TEXT as predicate structure (soundness), and — since
   comments are just separators — a commented predicate should still
   prune like its uncommented spelling (effectiveness).
2. _http_serve atexit reaper (ADVICE r12 low): exactly one registration
   per process, regardless of shutdown/respawn cycles.
"""
import json as _json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_comment_predicate_keeps_matching_rows(spark, tmp_path):
    """End-to-end ADVICE scenario: the AND inside the comment must not
    become a required conjunct — files holding k=1 rows with m!=9 must
    survive skip_files and the rows must come back."""
    from ballista_delta_spark.sources.delta import read_delta, write_delta

    path = str(tmp_path / "t")
    write_delta(
        spark.range(100).selectExpr("id AS k", "id * 2 AS m")
        .repartitionByRange(4, "k"),
        path, mode="overwrite",
    )
    got = read_delta(spark, path, where="k = 1 -- note AND m = 9")
    rows = got.collect()
    assert [(r.k, r.m) for r in rows] == [(1, 2)]
    got = read_delta(spark, path, where="k = 1 /* AND m = 9 */")
    assert [(r.k, r.m) for r in got.collect()] == [(1, 2)]


def _snap_of(files):
    from pyspark.sql import types as T

    class _FakeSnap:
        schema = T.StructType([T.StructField("k", T.LongType())])
        partition_columns = []

        def physical(self, c):
            return c

    s = _FakeSnap()
    s.files = files
    return s


def _file(lo, hi):
    return {
        "stats": _json.dumps({
            "numRecords": hi - lo + 1,
            "minValues": {"k": lo},
            "maxValues": {"k": hi},
            "nullCount": {"k": 0},
        })
    }


def test_comment_predicate_still_prunes(spark):
    """Comments are token separators: stripping them restores the
    pruning a masked-only scanner would forfeit (the commented conjunct
    would fail the anchored regex and be dropped)."""
    from ballista_delta_spark.sources.delta import skip_files

    snap = _snap_of({"low": _file(0, 9), "high": _file(100, 109)})
    kept = skip_files(snap, "k = 1 -- note AND m = 9")
    assert set(kept) == {"low"}
    kept = skip_files(snap, "k /* gap */ = 105")
    assert set(kept) == {"high"}
    # comment BETWEEN conjuncts: both still judged
    kept = skip_files(snap, "k >= 0 -- lower\nAND k < 10")
    assert set(kept) == {"low"}
    # unjudgeable remainder next to a comment stays sound (no pruning
    # beyond the judgeable conjunct)
    kept = skip_files(snap, "k = 105 AND substr('x', 1) = 'x' -- c")
    assert set(kept) == {"high"}


def test_http_reaper_registers_exactly_once(monkeypatch):
    import ballista_delta_spark.queries.scans as S

    calls = []

    class _FakeAtexit:
        @staticmethod
        def register(fn):
            calls.append(fn)

    monkeypatch.setitem(sys.modules, "atexit", _FakeAtexit)
    monkeypatch.setattr(S, "_REAPER_REGISTERED", False)
    monkeypatch.setattr(S, "_HTTP_SERVERS", {})
    try:
        d1 = os.path.dirname(os.path.abspath(__file__))
        S._http_serve(d1)
        S._shutdown_http_servers()  # manual shutdown clears the dict...
        S._http_serve(d1)  # ...but a respawn must NOT re-register
        assert len(calls) == 1
    finally:
        S._shutdown_http_servers()


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))


# ------------- 3. mid-stream schema change must stop the stream (r13
# concurrency review): the reader resolves column maps + Arrow cast
# shape once at query start; a later metaData that changes the physical
# field set / a type / partition columns must raise (delta-spark's
# "Detected schema change"), never be silently absorbed — a type
# widening would otherwise reach cast(..., safe=False) and WRAP values.
def _reader_for(path):
    from ballista_delta_spark.sources.delta import _load_snapshot
    from ballista_delta_spark.sources.delta_stream import DeltaStreamReader

    snap = _load_snapshot(path)
    return DeltaStreamReader(
        path, snap.schema, starting_version=0, snapshot=snap
    )


def test_mid_stream_schema_change_raises(spark, tmp_path):
    from ballista_delta_spark.sources.delta import (
        alter_column_type,
        write_delta,
    )

    tbl = str(tmp_path / "t")
    write_delta(spark.range(3).selectExpr("CAST(id AS INT) AS k"), tbl)
    r = _reader_for(tbl)
    r.latestOffset()  # v0 plans fine
    # widen k int -> bigint (ALTER COLUMN TYPE: metaData, changed type)
    alter_column_type(tbl, "k", "bigint")
    with pytest.raises(ValueError, match="schema change"):
        r.latestOffset()


def test_mid_stream_add_column_raises(spark, tmp_path):
    from ballista_delta_spark.sources.delta import write_delta

    tbl = str(tmp_path / "t")
    write_delta(spark.range(3).selectExpr("id AS k"), tbl)
    r = _reader_for(tbl)
    r.latestOffset()
    write_delta(
        spark.range(3, 6).selectExpr("id AS k", "id * 2 AS extra"),
        tbl, mode="append", merge_schema=True,
    )
    with pytest.raises(ValueError, match="schema change"):
        r.latestOffset()


def test_config_only_metadata_commit_streams_fine(spark, tmp_path):
    """A metaData action that only changes table PROPERTIES (same
    fields, same types, same partitioning) must not stop the stream."""
    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        _log_dir,
        _version_file,
        write_delta,
    )

    tbl = str(tmp_path / "t")
    write_delta(spark.range(3).selectExpr("id AS k"), tbl)
    r = _reader_for(tbl)
    r.latestOffset()
    snap = _load_snapshot(tbl)
    md = dict(snap.metadata_raw)
    md["configuration"] = {
        **(md.get("configuration") or {}), "custom.prop": "1"
    }
    with open(_version_file(_log_dir(tbl), 1), "w") as fh:
        fh.write(_json.dumps({"metaData": md}) + "\n")
        fh.write(_json.dumps(
            {"commitInfo": {"operation": "SET TBLPROPERTIES",
                            "timestamp": 1}}
        ) + "\n")
    end = r.latestOffset()  # must plan v1 without raising
    parts = r.partitions(r.initialOffset(), end)
    # config commit contributes no files; v0's files all plan
    assert {p.version for p in parts} == {0}


def test_next_version_ignores_staging_debris(tmp_path):
    """Version inference must count only COMPLETE log artifacts: a
    crash-orphaned checkpoint staging file (or any .tmp debris) must not
    advance _next_version — only durable .json/.crc/.checkpoint.parquet
    names prove a version existed."""
    from ballista_delta_spark.sources.delta import _next_version

    log = str(tmp_path / "_delta_log")
    os.makedirs(log)
    open(os.path.join(log, f"{0:020d}.json"), "w").write("{}")
    for debris in (
        f"{9:020d}.checkpoint.parquet.deadbeef.tmp",
        f"{7:020d}.json.deadbeef.tmp",
        f"{8:020d}.crc.deadbeef.tmp",
        f"{6:020d}.{5:020d}.compacted.json.tmp-x",
    ):
        open(os.path.join(log, debris), "w").write("")
    assert _next_version(log) == 1
    # complete artifacts DO count
    open(os.path.join(log, f"{3:020d}.checkpoint.parquet"), "w").write("")
    assert _next_version(log) == 4


# ------------- 4. bpe_train vs a pure-Python reference trainer: the
# distributed loop (vocab-grain counting, anchored regex merge, driver
# feedback) must produce the EXACT merge sequence of textbook BPE.
def _ref_bpe(word_freq, n_merges):
    from collections import Counter

    segs = {w: tuple(w) for w in word_freq}
    merges = []
    for _ in range(n_merges):
        counts = Counter()
        for w, syms in segs.items():
            f = word_freq[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        best = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0][0]
        merges.append(best)
        la, lb = best
        for w, syms in segs.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == la and syms[i + 1] == lb
                ):
                    out.append(la + lb)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[w] = tuple(out)
    return merges


def test_bpe_train_matches_reference_trainer(spark):
    import re

    import duckdb

    from ballista_delta_spark.queries.text import bpe_train

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"SELECT text FROM '{sf}/documents.parquet'"
    ).fetchall()
    from collections import Counter

    wf = Counter(
        w for (t,) in rows for w in re.split(r"\s+", t or "") if w
    )
    want = _ref_bpe(dict(wf), 6)
    got = bpe_train(spark, sf, n_merges=6)
    assert got == want, (got, want)


def test_bpe_train_merge_respects_symbol_boundaries(spark, tmp_path):
    """The cross-boundary trap directly: corpus where pair ('a','b')
    merges first and 'x ab' / 'tx ab' segmentations exist — the second
    merge must bind ('x','ab') without corrupting 'tx ab' (a substring
    replace would turn it into one 'txab' symbol)."""
    import pandas as pd

    from ballista_delta_spark.queries.text import bpe_train

    d = str(tmp_path / "sf")
    os.makedirs(d)
    # 'ab' dominates -> merge 1 = (a,b); then 'x ab' dominates merge 2.
    docs = (["xab"] * 6 + ["txab"] * 3 + ["ab"] * 8)
    pd.DataFrame({
        "doc_id": range(len(docs)),
        "text": docs,
        "lang": ["en"] * len(docs),
        "source": ["s"] * len(docs),
        "n_chars": [len(t) for t in docs],
    }).to_parquet(os.path.join(d, "documents.parquet"))
    got = bpe_train(spark, d, n_merges=2)
    import re as _re

    rows = docs
    from collections import Counter

    wf = Counter(w for t in rows for w in _re.split(r"\s+", t) if w)
    assert got == _ref_bpe(dict(wf), 2), got


def test_url_canonicalization_matches_urllib_reference(spark):
    """Differential semantics check for dedup_url_canonical: both the
    Spark side and the DuckDB oracle share one regex formulation, so
    hash-equality can't catch a shared mistake. Re-derive the canonical
    form per doc with urllib.parse (an independent URL implementation)
    and compare exactly — over the registered pipeline itself
    (_url_canonicalize), not a re-spelling of it."""
    import re as _re
    from urllib.parse import urlsplit

    from ballista_delta_spark.queries._tables import load
    from ballista_delta_spark.queries.dedup import (
        _URL_SYNTH_SQL,
        _url_canonicalize,
    )

    sf = "/root/testdata/sf0.001"
    d = load(spark, sf, "documents").selectExpr(
        "doc_id", f"{_URL_SYNTH_SQL} AS url"
    )
    got = {
        r["doc_id"]: (r["domain"], r["canon_url"])
        for r in _url_canonicalize(d).collect()
    }
    for r in d.collect():
        doc_id, url = r["doc_id"], r["url"]
        sp = urlsplit(url)
        host = _re.sub(r"^www\.", "", sp.hostname)  # urllib lowercases
        path = _re.sub(r"/+$", "", sp.path) or "/"
        params = sorted(
            p for p in sp.query.split("&")
            if p and not _re.match(r"^(utm_[^=]*|gclid|fbclid)=", p)
        )
        want_url = "https://" + host + path + (
            "?" + "&".join(params) if params else ""
        )
        m = _re.search(r"([^.]+\.co\.uk)$", host) if host.endswith(
            ".co.uk"
        ) else _re.search(r"([^.]+\.[^.]+)$", host)
        want_domain = m.group(1)
        assert got[doc_id] == (want_domain, want_url), (
            doc_id, url, got[doc_id], (want_domain, want_url)
        )


def test_mid_stream_schema_change_fails_e2e(spark, tmp_path):
    """Through real Structured Streaming, on a RUNNING query (the reader
    object outlives the change — a checkpoint RESTART builds a fresh
    reader that correctly adopts the new schema, which is the documented
    remedy): widen a column under a live stream; the next micro-batch
    must FAIL the query with the schema-change error, and nothing from
    the widened commit may reach the sink."""
    from ballista_delta_spark.sources.delta import (
        alter_column_type,
        write_delta,
    )
    from ballista_delta_spark.sources.delta_stream import (
        register_delta_stream_source,
    )

    tbl = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    write_delta(spark.range(3).selectExpr("CAST(id AS INT) AS k"), tbl)
    register_delta_stream_source(spark)
    df = (
        spark.readStream.format("delta_stream")
        .option("path", tbl).load()
    )
    q = (
        df.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(processingTime="1 second").start()
    )
    try:
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 3
        alter_column_type(tbl, "k", "bigint")
        write_delta(
            spark.createDataFrame([(2**40,)], "k long"), tbl,
            mode="append",
        )
        with pytest.raises(Exception, match="schema change"):
            q.processAllAvailable()
            q.awaitTermination(60)
        # nothing from the widened commit leaked into the sink
        assert spark.read.parquet(out).count() == 3
    finally:
        q.stop()


def test_not_equal_prunes_constant_chunks_only(spark):
    """!= / <> data skipping (r13): a file whose min==max equals the
    literal holds ONLY that value (spec: min <= all values <= max) and
    null rows can't satisfy != either — prune it; any wider range keeps
    the file. A generated partition column must never derive a != bound
    (rows at other times of the same day still match)."""
    import json as _json

    from pyspark.sql import types as T

    from ballista_delta_spark.sources.delta import skip_files

    snap = _snap_of({
        "const5": _file(5, 5), "mixed": _file(0, 9), "const7": _file(7, 7)
    })
    assert set(skip_files(snap, "k != 5")) == {"mixed", "const7"}
    assert set(skip_files(snap, "k <> 7")) == {"const5", "mixed"}
    assert set(skip_files(snap, "5 != k")) == {"mixed", "const7"}
    # nulls don't rescue a constant chunk: null k can't satisfy !=
    f = _json.loads(_file(5, 5)["stats"])
    f["nullCount"]["k"] = 2
    f["numRecords"] = 3
    snap2 = _snap_of({"c": {"stats": _json.dumps(f)}})
    assert set(skip_files(snap2, "k != 5")) == set()

    # generated-column: ts != <time on day D> must NOT prune the gd=D
    # partition (other times of day D match)
    class _GenSnap:
        schema = T.StructType([
            T.StructField("ts", T.TimestampType()),
            T.StructField(
                "gd", T.DateType(),
                metadata={"delta.generationExpression": "CAST(ts AS DATE)"},
            ),
        ])
        partition_columns = ["gd"]

        def physical(self, c):
            return c

    g = _GenSnap()
    g.files = {
        "d1": {"partitionValues": {"gd": "2024-03-05"}},
        "d2": {"partitionValues": {"gd": "2024-03-06"}},
    }
    kept = skip_files(g, "ts != '2024-03-05 10:00:00'")
    assert set(kept) == {"d1", "d2"}  # both days hold matching rows
    # equality still derives and prunes
    kept = skip_files(g, "ts >= '2024-03-06 00:00:00'")
    assert set(kept) == {"d2"}


def test_between_prunes_and_not_between_stays_sound(spark):
    """BETWEEN (r13): 'a BETWEEN 1 AND 5' judges as two range conjuncts
    — pruning, not merely staying sound. NOT BETWEEN is dropped
    (widening)."""
    from ballista_delta_spark.sources.delta import skip_files

    snap = _snap_of({
        "low": _file(0, 9), "mid": _file(40, 60), "high": _file(100, 109)
    })
    assert set(skip_files(snap, "k BETWEEN 45 AND 55")) == {"mid"}
    assert set(skip_files(snap, "k between 4 and 45")) == {"low", "mid"}
    # composes with other conjuncts and with OR branches
    assert set(
        skip_files(snap, "k BETWEEN 45 AND 55 AND k >= 50")
    ) == {"mid"}
    assert set(
        skip_files(snap, "(k BETWEEN 0 AND 5) OR (k BETWEEN 105 AND 200)")
    ) == {"low", "high"}
    # NOT BETWEEN: dropped, everything survives
    assert set(skip_files(snap, "k NOT BETWEEN 45 AND 55")) == {
        "low", "mid", "high"
    }


def test_like_prefix_prunes(spark):
    """LIKE 'prefix%' (r13): judged as the [prefix, bump) range; every
    other pattern shape (interior wildcards, leading %, _, escapes, NOT
    LIKE, no trailing %) and any ESCAPE clause drops — widening, sound."""
    import json as _json

    from pyspark.sql import types as T

    from ballista_delta_spark.sources.delta import skip_files

    def _sfile(lo, hi):
        return {"stats": _json.dumps({
            "numRecords": 2,
            "minValues": {"s": lo}, "maxValues": {"s": hi},
            "nullCount": {"s": 0},
        })}

    class _S:
        schema = T.StructType([T.StructField("s", T.StringType())])
        partition_columns = []

        def physical(self, c):
            return c

    snap = _S()
    snap.files = {
        "ab": _sfile("aa", "az"), "mq": _sfile("ma", "mz"),
        "xz": _sfile("xa", "zz"),
    }
    assert set(skip_files(snap, "s LIKE 'm%'")) == {"mq"}
    assert set(skip_files(snap, "s like 'a%'")) == {"ab"}
    # boundary: prefix 'z' -> only the file whose range reaches z
    assert set(skip_files(snap, "s LIKE 'z%'")) == {"xz"}
    # rejected shapes keep everything
    for pred in (
        "s LIKE '%m'", "s LIKE 'm_%'", "s LIKE 'm'", "s LIKE '%'",
        "s NOT LIKE 'm%'", "s LIKE 'a%b%'", "s LIKE 'a\\\\%'",
        "s LIKE 'm%' ESCAPE '#'",
    ):
        assert set(skip_files(snap, pred)) == {"ab", "mq", "xz"}, pred
