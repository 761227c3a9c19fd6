"""File-level data skipping from Delta add-action min/max stats.

delta-spark PrepareDeltaScan parity: eligible ``col <op> literal``
conjuncts of the predicate, as Spark's own parser reads it, prune
provably-dead files driver-side; everything else keeps files (soundness
over aggressiveness). No reference analogue — the reference's scan layer
is DataFusion's parquet pruning only.
"""

import pytest

from ballista_delta_spark.sources.delta import (
    _load_snapshot,
    read_delta,
    skip_files,
    write_delta,
)


@pytest.fixture()
def ranged(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10_000).selectExpr(
        "id AS k", "id % 7 AS v", "concat('u', lpad(id, 5, '0')) AS s"
    ).repartitionByRange(10, "k")
    write_delta(df, path, mode="overwrite")
    return path


def test_skipping_prunes_files_and_stays_exact(spark, ranged):
    snap = _load_snapshot(ranged)
    assert len(snap.files) == 10
    kept = skip_files(snap, "k >= 9000")
    assert 1 <= len(kept) <= 2  # range-disjoint layout → ~1 file
    out = read_delta(spark, ranged, where="k >= 9000")
    assert out.count() == 1000
    assert out.agg({"k": "min"}).collect()[0][0] == 9000


def test_point_lookup_hits_one_file(spark, ranged):
    snap = _load_snapshot(ranged)
    assert len(skip_files(snap, "k = 500")) == 1
    got = read_delta(spark, ranged, where="k = 500").collect()
    assert len(got) == 1 and got[0]["v"] == 500 % 7


def test_string_stats_prune(spark, ranged):
    snap = _load_snapshot(ranged)
    kept = skip_files(snap, "s = 'u00500'")
    assert len(kept) == 1


def test_unsupported_predicates_keep_everything(spark, ranged):
    snap = _load_snapshot(ranged)
    # Functions and non-literal comparisons must not prune.
    assert len(skip_files(snap, "abs(k) = 5")) == 10
    assert len(skip_files(snap, "k = v")) == 10
    # An OR whose branch is unjudgeable can never prove a file dead —
    # the whole disjunction keeps everything.
    assert len(skip_files(snap, "k = 5 OR abs(k) = 5")) == 10
    assert len(skip_files(snap, "k = 5 OR k = v")) == 10


def test_or_pruning_prunes_and_stays_exact(spark, ranged):
    """Disjunction skipping (the TPC-H q19 shape): a file is dead only
    when EVERY top-level OR branch is provably dead for it."""
    snap = _load_snapshot(ranged)
    # two point lookups -> at most one file each
    assert len(skip_files(snap, "k = 5 OR k = 9999")) == 2
    assert read_delta(spark, ranged, where="k = 5 OR k = 9999").count() == 2
    # q19 shape: (range AND extra) OR (range AND extra)
    pred = (
        "(k >= 1100 AND k < 1200 AND v >= 0)"
        " OR (k >= 8800 AND k < 8900 AND v >= 0)"
    )
    kept = skip_files(snap, pred)
    # sampled range boundaries → each 100-wide band hits 1-2 files
    assert 2 <= len(kept) <= 4
    assert read_delta(spark, ranged, where=pred).count() == 200
    # three branches, one dead everywhere: survivors = union of live ones
    pred3 = "k < 1000 OR k >= 9000 OR k = 1000000"
    assert 2 <= len(skip_files(snap, pred3)) <= 4
    assert read_delta(spark, ranged, where=pred3).count() == 2000
    # all branches dead everywhere -> empty scan, schema intact
    assert skip_files(snap, "k = -1 OR k > 1000000") == {}
    out = read_delta(spark, ranged, where="k = -1 OR k > 1000000")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "v", "s"]


def test_empty_result_without_any_scan(spark, ranged):
    snap = _load_snapshot(ranged)
    assert skip_files(snap, "k > 1000000") == {}
    out = read_delta(spark, ranged, where="k > 1000000")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "v", "s"]


def test_partition_values_prune(spark, tmp_path):
    path = str(tmp_path / "p")
    write_delta(
        spark.range(100).selectExpr("id AS k", "CAST(id % 5 AS INT) AS p"),
        path, mode="overwrite", partition_by=["p"],
    )
    snap = _load_snapshot(path)
    kept = skip_files(snap, "p = 3")
    assert all(a["partitionValues"]["p"] == "3" for a in kept.values())
    assert read_delta(spark, path, where="p = 3").count() == 20


def test_skipping_respects_column_mapping(spark, tmp_path):
    from ballista_delta_spark.sources.delta import alter_columns

    path = str(tmp_path / "cm")
    write_delta(
        spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
        .repartitionByRange(5, "k"),
        path, mode="overwrite",
    )
    alter_columns(path, renames={"k": "key"})
    snap = _load_snapshot(path)
    # Stats are keyed by the physical name 'k'; the logical predicate on
    # 'key' must still prune through the mapping.
    kept = skip_files(snap, "key >= 800")
    assert 1 <= len(kept) <= 2
    assert read_delta(spark, path, where="key >= 800").count() == 200


def test_in_list_prunes_files(spark, tmp_path):
    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        read_delta,
        skip_files,
        write_delta,
    )

    tbl = str(tmp_path / "in_skip")
    # 4 range-disjoint files over id 0..399
    write_delta(
        spark.range(400).selectExpr("id").repartitionByRange(4, "id"), tbl
    )
    snap = _load_snapshot(tbl)
    assert len(snap.files) == 4
    kept = skip_files(snap, "id IN (5, 7)")
    assert len(kept) == 1  # both values live in one 100-row range
    kept2 = skip_files(snap, "id IN (5, 305)")
    assert len(kept2) == 2
    # non-literal IN member -> ineligible, keeps everything
    assert len(skip_files(snap, "id IN (5, id)")) == 4
    got = read_delta(spark, tbl, where="id IN (5, 305)")
    assert {r.id for r in got.collect()} == {5, 305}


def test_is_null_prunes_on_nullcount(spark, tmp_path):
    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        read_delta,
        skip_files,
        write_delta,
    )

    tbl = str(tmp_path / "null_skip")
    # file A: no nulls; file B: all null v
    a = spark.range(50).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    b = spark.range(50, 100).selectExpr("id", "CAST(NULL AS DOUBLE) AS v")
    write_delta(a.coalesce(1), tbl)
    write_delta(b.coalesce(1), tbl, mode="append")
    snap = _load_snapshot(tbl)
    assert len(snap.files) == 2
    assert len(skip_files(snap, "v IS NULL")) == 1      # drops the no-null file
    assert len(skip_files(snap, "v IS NOT NULL")) == 1  # drops the all-null file
    got = read_delta(spark, tbl, where="v IS NULL")
    assert got.count() == 50
    assert {r.id for r in got.collect()} == set(range(50, 100))
    assert read_delta(spark, tbl, where="v IS NOT NULL").count() == 50


def test_generated_partition_column_pruning(spark, tmp_path):
    """A predicate on the raw timestamp derives a bound on the DATE
    partition generated from it (delta-spark's generated-column partition
    pruning) — files of other days never reach the scan."""
    import json as _json
    import os

    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        read_delta,
        skip_files,
        write_delta,
    )

    tbl = str(tmp_path / "genpart")
    df = spark.sql("""
        SELECT id,
               timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts,
               CAST(timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS DATE) AS event_date
        FROM range(96)
    """).coalesce(1)
    write_delta(df, tbl, partition_by=["event_date"])  # 4 days -> 4 files
    # author the generation expression on the partition column
    log0 = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    with open(log0) as fh:
        acts = [_json.loads(line) for line in fh]
    for a in acts:
        if "metaData" in a:
            schema = _json.loads(a["metaData"]["schemaString"])
            for f in schema["fields"]:
                if f["name"] == "event_date":
                    f["metadata"] = {
                        "delta.generationExpression": "CAST(ts AS DATE)"
                    }
            a["metaData"]["schemaString"] = _json.dumps(schema)
    with open(log0, "w") as fh:
        fh.writelines(_json.dumps(a) + "\n" for a in acts)

    snap = _load_snapshot(tbl)
    assert len(snap.files) == 4
    # predicate on the RAW ts column prunes date partitions
    kept = skip_files(snap, "ts >= '2024-03-03 05:00:00'")
    assert len(kept) == 2  # 03-03 and 03-04
    kept_eq = skip_files(snap, "ts = '2024-03-02 10:00:00'")
    assert len(kept_eq) == 1
    # strict < widens to <= (same-day earlier rows)
    assert len(skip_files(snap, "ts < '2024-03-02 01:00:00'")) == 2
    # exactness: the residual filter still applies
    got = read_delta(spark, tbl, where="ts >= '2024-03-03 05:00:00'")
    assert got.count() == 96 - (2 * 24 + 5)


def test_date_column_with_time_literal_is_not_overpruned(spark, tmp_path):
    """Spark casts a time-carrying literal to DATE before comparing; the
    pruner must do the same or it drops files whose rows DO match."""
    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        read_delta,
        skip_files,
        write_delta,
    )

    tbl = str(tmp_path / "date_lit")
    df = spark.sql(
        "SELECT id, DATE'2024-03-05' AS d FROM range(10)"
    ).coalesce(1)
    write_delta(df, tbl)
    snap = _load_snapshot(tbl)
    # equality with a time-of-day literal must KEEP the file
    assert len(skip_files(snap, "d = '2024-03-05 10:00:00'")) == 1
    assert len(skip_files(snap, "d >= '2024-03-05 10:00:00'")) == 1
    # and a genuinely different day still prunes
    assert len(skip_files(snap, "d = '2024-03-06 10:00:00'")) == 0
    # end-to-end result matches plain Spark semantics
    got = read_delta(spark, tbl, where="d = '2024-03-05 10:00:00'")
    assert got.count() == 10


def test_skip_files_soundness_sweep(spark, tmp_path):
    """Equivalence sweep: for every predicate in the grid, the pruned
    scan + residual filter must return EXACTLY the rows of a full scan
    with the same filter. Covers int/double/string/date/timestamp/null
    columns across range-disjoint files — the soundness contract of the
    pruner in one test."""
    from ballista_delta_spark.sources.delta import read_delta, write_delta

    tbl = str(tmp_path / "sweep")
    df = spark.sql("""
        SELECT id,
               CAST(id AS DOUBLE) / 2 AS x,
               concat('k', lpad(CAST(id % 50 AS STRING), 3, '0')) AS s,
               DATE'2024-01-01' + make_dt_interval(CAST(id / 10 AS INT)) AS ts,
               CAST(DATE'2024-01-01' + make_dt_interval(CAST(id / 10 AS INT)) AS DATE) AS d,
               CASE WHEN id % 7 = 0 THEN NULL ELSE id END AS nv
        FROM range(120)
    """).repartitionByRange(4, "id")
    write_delta(df, tbl)
    full = read_delta(spark, tbl)
    predicates = [
        "id = 57", "id < 30", "id >= 90", "id > 29 AND id <= 60",
        "x < 14.5", "x >= 59.5",
        "s = 'k007'", "s >= 'k045'", "s < 'k003'",
        "ts >= '2024-01-06 05:00:00'", "ts < '2024-01-03'",
        "ts = '2024-01-02 00:00:00'",
        "d = '2024-01-05'", "d = '2024-01-05 10:30:00'",
        "d >= '2024-01-10'", "d < '2024-01-02 23:00:00'",
        "nv IS NULL", "nv IS NOT NULL", "nv IS NULL AND id < 30",
        "id IN (3, 64, 118)", "id IN (200, 300)",
        "s IN ('k001', 'k049')",
        "id < 10 OR id > 110",            # OR -> ineligible, keeps all
        "abs(id - 60) < 5",               # function -> ineligible
        "id = 57 AND s = 'k007'",
    ]
    for pred in predicates:
        expect = sorted(
            tuple(r) for r in full.filter(pred).collect()
        )
        got = sorted(
            tuple(r) for r in read_delta(spark, tbl, where=pred).collect()
        )
        assert got == expect, f"pruned scan diverged for {pred!r}"


def test_skip_files_distributed_pass_matches_driver_loop(spark, tmp_path):
    """A checkpointed table (columnar ``_FileIndex`` base judged through
    ``skip_triples``) with a JSON-tail add and a partition column in play
    must prune exactly like the same file set held as a plain dict, and
    the pruned read must equal the full read plus filter."""
    from ballista_delta_spark.sources import delta as d

    tbl = str(tmp_path / "dist_skip")
    df = spark.sql("""
        SELECT id, CAST(id % 4 AS INT) AS p,
               CASE WHEN id % 9 = 0 THEN NULL ELSE id * 2 END AS nv,
               DATE'2024-01-01' + make_dt_interval(CAST(id / 5 AS INT)) AS ts
        FROM range(200)
    """).repartitionByRange(5, "id")
    write_delta(df, tbl, partition_by=["p"])
    d.create_checkpoint(tbl)
    # a post-checkpoint commit so the snapshot mixes columnar base adds
    # with JSON-tail overlay adds
    write_delta(
        spark.sql(
            "SELECT id, CAST(id % 4 AS INT) AS p, id * 2 AS nv, "
            "TIMESTAMP'2024-02-01 00:00:00' AS ts FROM range(200, 240)"
        ),
        tbl, mode="append", partition_by=["p"],
    )
    snap = _load_snapshot(tbl)
    assert isinstance(snap.files, d._FileIndex) and snap.files._overlay
    as_dict = _load_snapshot(tbl)
    as_dict.files = dict(as_dict.files.items())
    predicates = [
        "id < 40", "id >= 180", "p = 2", "p = 2 AND id < 100",
        "nv IS NULL", "nv IS NOT NULL", "ts >= '2024-01-25'",
        "ts >= TIMESTAMP '2024-01-25 00:00:00'", "id IN (3, 210)",
        "id = 9999",
    ]
    for pred in predicates:
        # a fresh index: every stat is read from the checkpoint columns
        columnar = skip_files(_load_snapshot(tbl), pred)
        assert list(columnar) == list(skip_files(as_dict, pred)), pred
        assert columnar == skip_files(as_dict, pred), pred
    assert skip_files(snap, "id = 9999") == {}
    assert 0 < len(skip_files(snap, "id < 40")) < len(snap.files)
    # end-to-end: pruned scan + residual filter == full scan + filter
    full = read_delta(spark, tbl)
    for pred in ("p = 2 AND id < 100", "ts >= '2024-01-25'"):
        expect = sorted(tuple(r) for r in full.filter(pred).collect())
        got = sorted(
            tuple(r) for r in read_delta(spark, tbl, where=pred).collect()
        )
        assert got == expect, pred


# One file per row: min == max, so every judged conjunct decides its file
# exactly. Columns whose names contain AND / OR and string values that
# look like predicate syntax catch any reading of the text other than
# Spark's own.
_POINT_ROWS = {
    "f1": dict(a=1, b=0, c=0, j=2, k=1, m=2, priority=1, score=2,
               sailORs=1, s="x AND y"),
    "f2": dict(a=0, b=2, c=0, j=3, k=5, m=2, priority=0, score=0,
               sailORs=0, s="straße"),
    "f3": dict(a=0, b=0, c=3, j=0, k=9, m=9, priority=1, score=0,
               sailORs=2, s="a OR b"),
    "f4": dict(a=1, b=2, c=0, j=3, k=3, m=0, priority=2, score=2,
               sailORs=0, s=")"),
}
_ALL = {"f1", "f2", "f3", "f4"}


@pytest.mark.parametrize("pred, kept", [
    # whitespace, tabs and newlines around AND / OR
    ("a = 1 AND b = 2\nOR c = 3", {"f3", "f4"}),
    ("a = 1\nOR b = 2", {"f1", "f2", "f4"}),
    ("a = 1\tOR\tb = 2", {"f1", "f2", "f4"}),
    ("a = 1\nAND b = 2", {"f4"}),
    # operators next to parens, no spaces at all
    ("(a = 1)OR(b = 2)", {"f1", "f2", "f4"}),
    ("(a = 1)AND(b = 2)", {"f4"}),
    ("(a = 1) OR (b = 2)", {"f1", "f2", "f4"}),
    # identifiers containing the operator words
    ("priority = 1 AND score = 2", {"f1"}),
    ("sailORs = 1", {"f1"}),
    ("x = orders", _ALL),
    # quoted strings are opaque, in either quote style and with escapes
    ("s = 'a OR b'", {"f3"}),
    ("s = 'x AND y' AND k = 1", {"f1"}),
    ('s = "x AND 9 > k AND y"', set()),
    ('s = "a OR b"', {"f3"}),
    ("s = 'x\\' AND 9 > k AND y\\''", set()),
    # redundant parens, including parens inside literals
    ("(a AND b)", _ALL),
    ("((a))", _ALL),
    ("(a) IN (b)", _ALL),
    ("(s = ')' AND k = 1)", set()),
    ("(s = '(' AND k = 1)", set()),
    ('(s = ")" AND k = 1)', set()),
    # non-ASCII literals ('ß'.upper() is longer than 'ß')
    ("k = 5 AND s = 'straße' OR k = 9", {"f2", "f3"}),
    ("s = 'straße' OR k = 9", {"f2", "f3"}),
    ("s = 'straße' AND k = 9", set()),
    # comments are token separators, never predicate text
    ("k = 1 -- note AND m = 9", {"f1"}),
    ("k = 1 /* OR m = 9 */", {"f1"}),
    ("(k = 1 /* ) */ AND m = 2)", {"f1"}),
    ("k = 1 /* AND m = 9 */ AND j = 2", {"f1"}),
    ("k = 1 -- c\nAND m = 2", {"f1"}),
    ("s = '--x' AND k = 1", set()),
    # BETWEEN's own AND is not a conjunction; NOT BETWEEN is not judged
    ("k BETWEEN 1 AND 5", {"f1", "f2", "f4"}),
    ("k BETWEEN 1 AND 5 AND m = 2", {"f1", "f2"}),
    ("m = 2 AND k NOT BETWEEN 1 AND 5 AND j = 3", {"f2"}),
    # a multi-part name or a cast of a column is not judged
    ("a.b = 1", _ALL),
    ("CAST(k AS INT) = 1", _ALL),
])
def test_parsed_predicate_prunes_like_filter(spark, pred, kept):
    """Predicate text means what Spark's parser says it means: each input
    once broke a hand-rolled splitter, and each prunes exactly the files
    whose row the judged conjuncts rule out."""
    import json

    from pyspark.sql import types as T

    class _Snap:
        schema = T.StructType([
            T.StructField(c, T.StringType() if c == "s" else T.LongType())
            for c in _POINT_ROWS["f1"]
        ])
        partition_columns: list = []
        files = {
            f: {"stats": json.dumps({
                "numRecords": 1, "minValues": row, "maxValues": row,
                "nullCount": {c: 0 for c in row},
            })}
            for f, row in _POINT_ROWS.items()
        }

        def physical(self, c):
            return c

    assert set(skip_files(_Snap(), pred)) == kept


def test_typed_date_and_timestamp_literals_prune(spark, tmp_path):
    """DATE '…', TIMESTAMP '…' and CAST('…' AS DATE|TIMESTAMP) literals
    are judged against date and timestamp columns, and the pruned read
    equals the full read plus filter."""
    path = str(tmp_path / "t")
    for lo in (0, 30, 60):  # one file per 30 days from 2024-01-01
        write_delta(spark.sql(f"""
            SELECT DATE'2024-01-01' + CAST(id AS INT) AS d,
                   TIMESTAMP'2024-01-01 00:00:00'
                     + make_dt_interval(CAST(id AS INT)) AS ts,
                   id
            FROM range({lo}, {lo + 30})
        """).coalesce(1), path, mode="append")
    snap = _load_snapshot(path)
    assert len(snap.files) == 3
    full = read_delta(spark, path)
    for pred in (
        "d >= DATE '2024-03-01'",
        "ts < TIMESTAMP '2024-01-20 00:00:00'",
        "d = CAST('2024-02-10' AS DATE)",
        "ts >= CAST('2024-03-05' AS TIMESTAMP)",
        "DATE '2024-01-10' >= d",
    ):
        assert len(skip_files(snap, pred)) == 1, pred
        expect = sorted(tuple(r) for r in full.filter(pred).collect())
        got = sorted(
            tuple(r) for r in read_delta(spark, path, where=pred).collect()
        )
        assert got == expect and got, pred
    # a date column compared with a timestamp is cast the other way
    # round: not judged
    assert len(skip_files(snap, "d < TIMESTAMP '2024-01-20 00:00:00'")) == 3


def test_naive_timestamp_literals_read_in_session_zone(spark, tmp_path):
    """Spark reads a naive literal compared with a TIMESTAMP column in
    the session time zone, and casts a timestamp to a date there. The
    skipper must do both, or a non-UTC session silently loses rows."""
    import json as _json
    import os

    path = str(tmp_path / "t")
    for lo in (0, 12):  # 00:00-04:00 and 12:00-16:00 UTC on 2024-01-01
        write_delta(spark.sql(f"""
            SELECT timestamp_seconds(1704067200 + (id + {lo}) * 3600) AS ts, id
            FROM range(5)
        """).coalesce(1), path, mode="append")
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        full = read_delta(spark, path)
        for pred in (
            "ts < '2024-01-01 08:00:00'",  # 16:00 UTC: both files
            "ts < TIMESTAMP '2023-12-31 20:00:00'",  # 04:00 UTC
            "ts < CAST('2023-12-31 20:00:00' AS TIMESTAMP)",
            "ts > '2024-01-01 03:30:00'",  # 11:30 UTC
        ):
            expect = full.filter(pred).count()
            assert expect, pred
            assert read_delta(spark, path, where=pred).count() == expect, pred
        # still prunes, in the right zone: 17:00 PST is 01:00 UTC
        snap = _load_snapshot(path)
        assert len(skip_files(snap, "ts < '2023-12-31 17:00:00'")) == 1
        assert len(skip_files(snap, "ts >= '2024-01-01 04:00:00'")) == 1

        # A date partition generated as CAST(ts AS DATE), written in
        # this zone: 48 hourly rows from 2024-01-01 00:00 UTC fall on
        # three Los Angeles days.
        gen = str(tmp_path / "gen")
        write_delta(spark.sql("""
            SELECT timestamp_seconds(1704067200 + id * 3600) AS ts,
                   CAST(timestamp_seconds(1704067200 + id * 3600) AS DATE)
                     AS event_date
            FROM range(48)
        """).coalesce(1), gen, partition_by=["event_date"])
        log0 = os.path.join(gen, "_delta_log", f"{0:020d}.json")
        with open(log0) as fh:
            acts = [_json.loads(line) for line in fh]
        for a in acts:
            if "metaData" in a:
                schema = _json.loads(a["metaData"]["schemaString"])
                for f in schema["fields"]:
                    if f["name"] == "event_date":
                        f["metadata"] = {
                            "delta.generationExpression": "CAST(ts AS DATE)"
                        }
                a["metaData"]["schemaString"] = _json.dumps(schema)
        with open(log0, "w") as fh:
            fh.writelines(_json.dumps(a) + "\n" for a in acts)
        full = read_delta(spark, gen)
        for pred in (
            # 03:00 UTC on 01-02 is 19:00 on 01-01 in Los Angeles
            "ts >= '2024-01-02T03:00:00Z'",
            "ts >= '2024-01-01 20:00:00'",
            "ts < '2024-01-01 02:00:00'",
        ):
            expect = full.filter(pred).count()
            assert expect, pred
            assert read_delta(spark, gen, where=pred).count() == expect, pred
        assert len(skip_files(_load_snapshot(gen), "ts < '2023-12-31 20:00:00'")) == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_optimize_where_unparseable_raises_and_commits_nothing(
    spark, tmp_path,
):
    from pyspark.errors import ParseException

    from ballista_delta_spark.sources.delta import optimize

    path = str(tmp_path / "t")
    for i in range(3):
        write_delta(
            spark.range(i * 10, i * 10 + 10).selectExpr("id AS k"), path,
            mode="append",
        )
    before = _load_snapshot(path)
    with pytest.raises(ParseException):
        optimize(spark, path, where="k = = 3")
    after = _load_snapshot(path)
    assert after.version == before.version
    assert set(after.files) == set(before.files)


def test_long_string_stats_truncate_but_still_prune(spark, tmp_path):
    """String bounds truncate to a 32-char prefix (max bumped past every
    covered value) so a document-text column costs 32 chars per file in
    the log, not the whole document — and range pruning on the truncated
    bounds stays sound."""
    import json

    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        skip_files,
        write_delta,
    )

    p = str(tmp_path / "t")
    long_a = "a" * 500
    long_m = "m" * 500
    write_delta(
        spark.createDataFrame(
            [(1, long_a), (2, long_m)], "id int, body string"
        ).coalesce(1),
        p,
    )
    write_delta(
        spark.createDataFrame(
            [(3, "z" * 500)], "id int, body string"
        ).coalesce(1),
        p, mode="append",
    )
    snap = _load_snapshot(p)
    for a in snap.files.values():
        st = json.loads(a["stats"])
        assert len(st["minValues"]["body"]) <= 32
        assert len(st["maxValues"]["body"]) <= 32
    # file 1 covers [aaa.., mmm..+bump]; file 2 covers [zzz.., zzz..+bump]
    kept = skip_files(snap, "body >= 'y'")
    assert len(kept) == 1  # the a..m file pruned, the z file kept
    kept_all = skip_files(snap, "body >= 'a'")
    assert len(kept_all) == 2  # truncation never over-prunes


def test_data_skipping_num_indexed_cols_caps_stats_width(spark, tmp_path):
    import json

    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        alter_properties,
        write_delta,
    )

    p = str(tmp_path / "t")
    df = spark.range(5).selectExpr(
        "id", "id * 2 AS b", "id * 3 AS c", "CAST(id AS STRING) AS d"
    )
    write_delta(df, p)
    alter_properties(
        spark, p, {"delta.dataSkippingNumIndexedCols": "2"}
    )
    write_delta(df, p, mode="append")
    snap = _load_snapshot(p)
    # the latest commit's adds carry stats for the first 2 columns only
    import os

    last_v = snap.version
    with open(os.path.join(p, "_delta_log", f"{last_v:020d}.json")) as fh:
        adds = [
            json.loads(line)["add"]
            for line in fh
            if line.strip() and "add" in json.loads(line)
        ]
    for a in adds:
        st = json.loads(a["stats"])
        assert set(st["minValues"]) <= {"id", "b"}
        assert "numRecords" in st
