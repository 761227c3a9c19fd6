"""Delta protocol tests, mirroring the reference's test net (SURVEY.md §5):

- golden-rows test against the re-created reference fixture
  (data/people_countries_delta; reference tests/local.rs:31-41)
- DDL registration (reference tests/local.rs:48-54)
- write-path tests (the reference asserts INSERT *fails*, tests/local.rs:100-103;
  we assert append/overwrite *work* — S9/S10 exceeded)
- checkpoint + time travel
"""

from __future__ import annotations

import os

import pytest

from ballista_delta_spark.session import sql
from ballista_delta_spark.sources.delta import (
    DeltaTable,
    create_checkpoint,
    read_delta,
    write_delta,
)

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data", "people_countries_delta",
)

GOLDEN = [
    ("Bruce", "Lee", "Asia", "China"),
    ("Ernesto", "Guevara", "NaN", "Argentina"),
    ("Jack", "Ma", "Asia", "China"),
    ("Soraya", "Jala", "NaN", "Germany"),
    ("Wolfgang", "Manche", "NaN", "Germany"),
]


def test_golden_fixture_rows(spark):
    """select * from demo order by first_name — reference tests/local.rs:45."""
    df = read_delta(spark, FIXTURE).orderBy("first_name")
    rows = [(r.first_name, r.last_name, r.continent, r.country) for r in df.collect()]
    assert rows == GOLDEN


def test_golden_fixture_nan_is_string_not_null(spark):
    """The fixture stores the *string* 'NaN' (reference tests/local.rs:36-39)."""
    df = read_delta(spark, FIXTURE)
    assert df.filter("continent IS NULL").count() == 0
    assert df.filter("continent = 'NaN'").count() == 3


def test_partition_column_restored_and_typed(spark):
    df = read_delta(spark, FIXTURE)
    assert df.schema["country"].dataType.simpleString() == "string"
    assert {r.country for r in df.select("country").distinct().collect()} == {
        "Argentina", "China", "Germany",
    }


def test_ddl_create_external_table(spark, tmp_path):
    """CREATE EXTERNAL TABLE ... STORED AS DELTA — reference tests/local.rs:48."""
    sql(spark, f"CREATE EXTERNAL TABLE people_ddl STORED AS DELTA LOCATION '{FIXTURE}'")
    got = spark.sql("SELECT count(*) AS n FROM people_ddl").collect()[0].n
    assert got == 5


def test_write_append_roundtrip(spark, tmp_path):
    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    assert write_delta(src, tbl, mode="overwrite", partition_by=["country"]) == 0
    assert write_delta(src.filter("country = 'China'"), tbl, mode="append") == 1
    assert read_delta(spark, tbl).count() == 7
    # time travel
    assert read_delta(spark, tbl, version=0).count() == 5


def test_write_overwrite_removes_old_files(spark, tmp_path):
    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite", partition_by=["country"])
    write_delta(src.filter("country = 'Germany'"), tbl, mode="overwrite")
    back = read_delta(spark, tbl)
    assert back.count() == 2
    assert {r.country for r in back.select("country").collect()} == {"Germany"}


def test_write_schema_enforcement(spark, tmp_path):
    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite")
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(src.drop("continent"), tbl, mode="append")


def test_commit_stats_match_fixture_shape(spark, tmp_path):
    """Writes carry per-file stats like the Spark-written fixture
    (_delta_log/...json:4-6: numRecords/minValues/maxValues/nullCount)."""
    import json

    tbl = str(tmp_path / "t")
    write_delta(read_delta(spark, FIXTURE), tbl, mode="overwrite", partition_by=["country"])
    snap = DeltaTable(tbl).snapshot
    total = 0
    for add in snap.files.values():
        stats = json.loads(add["stats"])
        assert set(stats) == {"numRecords", "minValues", "maxValues", "nullCount"}
        total += stats["numRecords"]
    assert total == 5


def test_checkpoint_roundtrip(spark, tmp_path):
    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite", partition_by=["country"])
    write_delta(src.limit(1), tbl, mode="append")
    create_checkpoint(tbl)
    write_delta(src.limit(1), tbl, mode="append")
    assert read_delta(spark, tbl).count() == 7
    assert os.path.exists(os.path.join(tbl, "_delta_log", "_last_checkpoint"))


def test_history(spark, tmp_path):
    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite")
    write_delta(src, tbl, mode="append")
    hist = DeltaTable(tbl).history()
    assert [h["version"] for h in hist] == [0, 1]
    assert all(h["operation"] == "WRITE" for h in hist)


def test_insert_into_delta_sql(spark, tmp_path):
    """INSERT INTO through the SQL surface — the reference asserts this FAILS
    (tests/local.rs:100-103); we assert it commits and the view refreshes."""
    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite", partition_by=["country"])
    sql(spark, f"CREATE EXTERNAL TABLE people_ins STORED AS DELTA LOCATION '{tbl}'")
    out = sql(
        spark,
        "INSERT INTO people_ins "
        "SELECT first_name, last_name, country, continent FROM people_ins "
        "WHERE country = 'China'",
    )
    assert out.collect()[0].committed_version == 1
    assert spark.sql("SELECT count(*) AS n FROM people_ins").collect()[0].n == 7


def test_insert_values_column_lists_and_qualified_names(spark, tmp_path):
    """INSERT INTO shapes beyond bare-name SELECT (reference tests/local.rs:
    62-106 exercises the factory with these shapes and asserts failure; we
    assert each commits): VALUES lists, explicit column lists with NULL
    fill, backquoted and qualified names."""
    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [("Ann", "Lee", "China", "Asia")],
            "first_name string, last_name string, country string, continent string",
        ),
        tbl, mode="overwrite",
    )
    sql(spark, f"CREATE EXTERNAL TABLE people_v STORED AS DELTA LOCATION '{tbl}'")

    # VALUES list, multiple rows.
    out = sql(
        spark,
        "INSERT INTO people_v VALUES "
        "('Bo', 'Chan', 'China', 'Asia'), ('Cy', 'Diaz', 'Peru', 'South America')",
    )
    assert out.collect()[0].committed_version == 1
    assert spark.sql("SELECT count(*) n FROM people_v").collect()[0].n == 3

    # Column list: unlisted columns fill with NULL; order is the list's.
    sql(
        spark,
        "INSERT INTO people_v (last_name, first_name) VALUES ('Er', 'Dana')",
    )
    row = spark.sql(
        "SELECT * FROM people_v WHERE first_name = 'Dana'"
    ).collect()[0]
    assert row.last_name == "Er" and row.country is None and row.continent is None

    # Backquoted + qualified names resolve to the registered view.
    sql(spark, "INSERT INTO `people_v` VALUES ('Fay', 'Gu', 'Kenya', 'Africa')")
    sql(spark, "INSERT INTO spark_catalog.default.people_v "
               "SELECT 'Hal', 'Ito', 'Japan', 'Asia'")
    assert spark.sql("SELECT count(*) n FROM people_v").collect()[0].n == 6

    # Arity mismatch raises, committing nothing.
    with pytest.raises(ValueError, match="columns"):
        sql(spark, "INSERT INTO people_v VALUES ('only', 'three', 'cols')")
    # Unknown column in the list raises.
    with pytest.raises(ValueError, match="not in table"):
        sql(spark, "INSERT INTO people_v (nope) VALUES ('x')")
    assert spark.sql("SELECT count(*) n FROM people_v").collect()[0].n == 6


def test_sql_delete_update_and_insert_overwrite(spark, tmp_path):
    """DELETE FROM / UPDATE ... SET / INSERT OVERWRITE through the SQL
    surface route to the copy-on-write DML engine and refresh the view."""
    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(30)], "id int, k int, v double"
        ),
        tbl,
    )
    sql(spark, f"CREATE EXTERNAL TABLE dmlv STORED AS DELTA LOCATION '{tbl}'")

    out = sql(spark, "DELETE FROM dmlv WHERE k = 1").collect()[0]
    assert out.numDeletedRows == 10
    assert spark.sql("SELECT count(*) n FROM dmlv").collect()[0].n == 20

    # SET expressions see the pre-update row; commas inside calls are kept.
    out = sql(
        spark,
        "UPDATE dmlv SET v = round(v + 0.5, 1), k = k + 10 WHERE id < 6",
    ).collect()[0]
    assert out.numUpdatedRows == 4  # ids 0,2,3,5 survive (1,4 had k=1)
    row = spark.sql("SELECT k, v FROM dmlv WHERE id = 0").collect()[0]
    assert row.k == 10 and row.v == 0.5

    # UPDATE without WHERE touches every row.
    out = sql(spark, "UPDATE dmlv SET v = 0.0").collect()[0]
    assert out.numUpdatedRows == 20
    assert spark.sql("SELECT sum(v) s FROM dmlv").collect()[0].s == 0.0

    # INSERT OVERWRITE replaces the contents in one commit.
    sql(spark, "INSERT OVERWRITE dmlv VALUES (100, 1, 1.5), (101, 2, 2.5)")
    assert spark.sql("SELECT count(*) n FROM dmlv").collect()[0].n == 2
    # DELETE with no WHERE empties the table.
    out = sql(spark, "DELETE FROM dmlv").collect()[0]
    assert out.numDeletedRows == 2
    assert spark.sql("SELECT count(*) n FROM dmlv").collect()[0].n == 0
    # Unregistered tables fall through to Spark SQL untouched.
    with pytest.raises(Exception):
        sql(spark, "DELETE FROM not_a_delta_view WHERE 1=1")


def test_sql_merge_forms(spark, tmp_path):
    """MERGE INTO through the SQL surface: update+insert with aliases and a
    subquery source, the delete form, and INSERT *."""
    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
            "id int, name string, v double",
        ),
        tbl,
    )
    sql(spark, f"CREATE EXTERNAL TABLE mrg STORED AS DELTA LOCATION '{tbl}'")

    # Subquery source, custom aliases, qualified SET targets, expressions
    # with commas inside calls, explicit INSERT column list.
    out = sql(spark, """
        MERGE INTO mrg AS tgt
        USING (SELECT * FROM VALUES (2, 'B', 20.0), (9, 'Z', 90.0)
               AS src(id, name, v)) AS upd
        ON tgt.id = upd.id
        WHEN MATCHED THEN UPDATE SET tgt.name = upper(upd.name),
                                     tgt.v = round(upd.v + 0.05, 1)
        WHEN NOT MATCHED THEN INSERT (id, name, v)
             VALUES (upd.id, upd.name, upd.v)
    """).collect()[0]
    assert out.numTargetRowsUpdated == 1 and out.numTargetRowsInserted == 1
    rows = {r.id: r for r in spark.sql("SELECT * FROM mrg").collect()}
    assert rows[2].name == "B" and rows[2].v == 20.1
    assert rows[9].name == "Z" and len(rows) == 4

    # Delete form with a plain registered view as source.
    spark.createDataFrame([(9,)], "id int").createOrReplaceTempView("kill")
    out = sql(spark, "MERGE INTO mrg t USING kill s ON t.id = s.id "
                     "WHEN MATCHED THEN DELETE").collect()[0]
    assert out.numTargetRowsDeleted == 1
    assert spark.sql("SELECT count(*) n FROM mrg").collect()[0].n == 3

    # INSERT * (source must carry all target columns).
    sql(spark, """
        MERGE INTO mrg t
        USING (SELECT 7 AS id, 'g' AS name, 7.0 AS v) s
        ON t.id = s.id
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert spark.sql("SELECT count(*) n FROM mrg").collect()[0].n == 4

    # Conditional clauses are supported since round 6
    # (TestConditionalMerge in test_delta_dml.py); a malformed clause is
    # still a loud error (Spark's parser rejects it) with no commit.
    from pyspark.errors import ParseException

    from ballista_delta_spark.sources.delta import _load_snapshot

    version = _load_snapshot(tbl).version
    with pytest.raises(ParseException, match="FROBNICATE"):
        sql(spark, "MERGE INTO mrg t USING kill s ON t.id = s.id "
                   "WHEN MATCHED THEN FROBNICATE")
    assert _load_snapshot(tbl).version == version


def test_restore_to_version_is_metadata_only(spark, tmp_path):
    """RESTORE rolls back as a NEW commit reusing the old files: contents
    match the target version, history is preserved, nothing is rewritten."""
    from ballista_delta_spark.sources.delta import restore_delta

    tbl = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(i,) for i in range(10)], "id int"), tbl)
    write_delta(
        spark.createDataFrame([(i,) for i in range(10, 20)], "id int"),
        tbl, mode="append",
    )
    from ballista_delta_spark.sources.delta_dml import delete_delta

    delete_delta(spark, tbl, "id < 5")  # v2
    files_before = {
        f for f in os.listdir(tbl) if f.endswith(".parquet")
    }
    m = restore_delta(tbl, 0)
    assert m["version"] == 3 and m["restoredVersion"] == 0
    assert sorted(r.id for r in read_delta(spark, tbl).collect()) == list(range(10))
    # No data files written by the restore itself.
    files_after = {f for f in os.listdir(tbl) if f.endswith(".parquet")}
    assert files_after == files_before
    # Time travel still sees every pre-restore state.
    assert read_delta(spark, tbl, version=1).count() == 20
    assert read_delta(spark, tbl, version=2).count() == 15


def test_sql_restore_and_describe_history(spark, tmp_path):
    tbl = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(1,), (2,)], "id int"), tbl)
    write_delta(spark.createDataFrame([(3,)], "id int"), tbl, mode="append")
    sql(spark, f"CREATE EXTERNAL TABLE restv STORED AS DELTA LOCATION '{tbl}'")

    out = sql(spark, "RESTORE TABLE restv TO VERSION AS OF 0").collect()[0]
    assert out.restoredVersion == 0
    assert spark.sql("SELECT count(*) n FROM restv").collect()[0].n == 2

    hist = sql(spark, "DESCRIBE HISTORY restv").collect()
    assert [h.version for h in hist] == [0, 1, 2]
    assert hist[-1].operation == "RESTORE"


def test_read_delta_changes_row_level_diff(spark, tmp_path):
    """CDC between versions: inserts/deletes from the file-level diff; a
    copy-on-write UPDATE shows as delete+insert; compaction shows nothing."""
    from ballista_delta_spark.sources.delta import optimize, read_delta_changes
    from ballista_delta_spark.sources.delta_dml import delete_delta, update_delta

    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(i, float(i)) for i in range(6)], "id int, v double"),
        tbl,
    )                                            # v0
    update_delta(spark, tbl, "id = 2", {"v": "20.0"})   # v1
    delete_delta(spark, tbl, "id = 5")                  # v2

    ch = {
        (r.id, r.v, r._change_type)
        for r in read_delta_changes(spark, tbl, 0, 2).collect()
    }
    assert ch == {
        (2, 2.0, "delete"), (2, 20.0, "insert"),  # the update pair
        (5, 5.0, "delete"),
    }
    # Sub-range: v1 -> v2 sees only the delete.
    ch12 = {
        (r.id, r._change_type)
        for r in read_delta_changes(spark, tbl, 1, 2).collect()
    }
    assert ch12 == {(5, "delete")}
    # Compaction (dataChange=false rewrite) produces zero changes.
    write_delta(
        spark.createDataFrame([(9, 9.0)], "id int, v double"), tbl, mode="append"
    )                                            # v3 (forces >1 file)
    v4 = optimize(spark, tbl)
    assert read_delta_changes(spark, tbl, 3, v4).count() == 0


def test_sql_time_travel_version_and_timestamp_as_of(spark, tmp_path):
    """SELECT ... FROM <view> VERSION AS OF n / TIMESTAMP AS OF 'ts' —
    delta-spark's time-travel SQL, rewritten to snapshot views."""
    import json as _json

    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(i,) for i in range(8)], "id int"), tbl)
    delete_delta(spark, tbl, "id >= 4")  # v1
    sql(spark, f"CREATE EXTERNAL TABLE ttv STORED AS DELTA LOCATION '{tbl}'")

    assert sql(spark, "SELECT count(*) n FROM ttv").collect()[0].n == 4
    assert sql(
        spark, "SELECT count(*) n FROM ttv VERSION AS OF 0"
    ).collect()[0].n == 8
    # Mixed: current joined against an old snapshot in one statement.
    row = sql(spark, """
        SELECT count(*) n FROM ttv VERSION AS OF 0 a
        LEFT ANTI JOIN ttv b ON a.id = b.id
    """).collect()[0]
    assert row.n == 4  # the deleted ids only exist in v0

    # TIMESTAMP AS OF: pin to v0's commit time.
    log0 = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    with open(log0) as fh:
        ts0 = next(
            a["commitInfo"]["timestamp"]
            for a in map(_json.loads, fh) if "commitInfo" in a
        )
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(ts0 / 1000, tz=timezone.utc).isoformat()
    assert sql(
        spark, f"SELECT count(*) n FROM ttv TIMESTAMP AS OF '{iso}'"
    ).collect()[0].n == 8


def test_restore_refuses_when_files_vacuumed(spark, tmp_path):
    from ballista_delta_spark.sources.delta import restore_delta, vacuum

    tbl = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(1,)], "id int"), tbl)
    write_delta(spark.createDataFrame([(2,)], "id int"), tbl, mode="overwrite")
    vacuum(tbl, retention_ms=0)  # v0's file is gone
    with pytest.raises(ValueError, match="vacuumed"):
        restore_delta(tbl, 0)


def test_sql_vacuum_and_optimize(spark, tmp_path):
    """VACUUM [RETAIN n HOURS] and OPTIMIZE through the SQL surface."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(i,) for i in range(100)], "id int")
    # Many small commits -> many small files for OPTIMIZE to compact.
    write_delta(df.repartition(4), tbl)
    write_delta(df.repartition(4), tbl, mode="append")
    sql(spark, f"CREATE EXTERNAL TABLE maintv STORED AS DELTA LOCATION '{tbl}'")

    out = sql(spark, "OPTIMIZE maintv").collect()[0]
    assert out.committed_version >= 2
    assert spark.sql("SELECT count(*) n FROM maintv").collect()[0].n == 200

    # RETAIN 0 HOURS releases the files the optimize tombstoned.
    out = sql(spark, "VACUUM maintv RETAIN 0 HOURS").collect()[0]
    assert out.files_deleted >= 8
    assert spark.sql("SELECT count(*) n FROM maintv").collect()[0].n == 200


def test_spark_written_fixture_matches_reference_shape(spark, tmp_path):
    """Re-create the reference fixture with our writer and golden-check it
    (mirror of reference tests/local.rs:31-41)."""
    import json

    tbl = str(tmp_path / "people_countries")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite", partition_by=["country"])
    rows = [
        (r.first_name, r.last_name, r.continent, r.country)
        for r in read_delta(spark, tbl).orderBy("first_name").collect()
    ]
    assert rows == GOLDEN
    with open(os.path.join(tbl, "_delta_log", f"{0:020d}.json")) as fh:
        actions = [json.loads(line) for line in fh]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "commitInfo" and "protocol" in kinds and "metaData" in kinds
    md = next(a["metaData"] for a in actions if "metaData" in a)
    assert md["partitionColumns"] == ["country"]


def _retrofit_column_mapping(tbl: str, mode: str, renames: dict[str, str]) -> None:
    """Rewrite log0's metaData to columnMapping ``mode``: physical names stay
    as written on disk; logical names come from ``renames`` (physical ->
    logical), mimicking what RENAME COLUMN leaves behind."""
    import json

    log0 = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    with open(log0) as fh:
        actions = [json.loads(line) for line in fh]
    for a in actions:
        if "metaData" in a:
            schema = json.loads(a["metaData"]["schemaString"])
            for i, f in enumerate(schema["fields"], start=1):
                phys = f["name"]
                f["name"] = renames.get(phys, phys)
                f["metadata"] = {
                    "delta.columnMapping.id": i,
                    "delta.columnMapping.physicalName": phys,
                }
            a["metaData"]["schemaString"] = json.dumps(schema)
            a["metaData"]["configuration"] = {"delta.columnMapping.mode": mode}
    with open(log0, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in actions)


def test_column_mapping_name_mode_reads_logical_names(spark, tmp_path):
    """columnMapping.mode=name: scans resolve the parquet's physical names
    and serve the log's LOGICAL names — the post-RENAME-COLUMN layout."""
    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite", partition_by=["country"])
    _retrofit_column_mapping(
        tbl, "name", {"first_name": "given_name", "country": "nation"}
    )
    df = read_delta(spark, tbl)
    assert set(df.columns) == {"given_name", "last_name", "nation", "continent"}
    assert df.count() == src.count()
    # Values travel: the renamed partition column still filters/prunes.
    assert (
        df.filter("nation = 'China'").count()
        == src.filter("country = 'China'").count()
    )
    # Writes, DML, and compaction all stage PHYSICAL-named parquet (round
    # 7; full coverage in tests/test_column_mapping.py) — a quick append
    # round-trip here proves the retrofit table stays consistent.
    n = df.count()
    write_delta(df.limit(2), tbl, mode="append")
    assert read_delta(spark, tbl).count() == n + 2


def test_column_mapping_id_mode_resolves_by_field_id(spark, tmp_path):
    """columnMapping.mode=id (round 6): scans resolve parquet columns by
    FIELD ID, the spec's rule. Proven the hard way — the parquet files'
    column names are scrambled to junk (so any name-based resolution,
    physical or logical, would fail) and only the field-id metadata links
    them back to the log schema."""
    import glob
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite")
    # Scramble every data file: junk column names + field_id metadata.
    logical_names = None
    for f in glob.glob(os.path.join(tbl, "*.parquet")):
        t = pq.read_table(f)
        logical_names = t.schema.names
        scrambled = pa.schema(
            [
                pa.field(
                    f"junk_{i}", t.schema.field(i).type,
                    metadata={b"PARQUET:field_id": str(i + 1).encode()},
                )
                for i in range(len(t.schema))
            ]
        )
        pq.write_table(t.rename_columns([f"junk_{i}" for i in range(len(t.schema))]).cast(scrambled), f)
    # Retrofit the log: mode=id, ids 1..n in file order, physicalName kept
    # as the ORIGINAL names — which no longer exist in the files, so only
    # id resolution can succeed.
    _retrofit_column_mapping(tbl, "id", {})
    df = read_delta(spark, tbl)
    assert set(df.columns) == set(logical_names)
    rows = [
        (r.first_name, r.last_name, r.continent, r.country)
        for r in df.orderBy("first_name").collect()
    ]
    assert rows == GOLDEN
    # Stats preserved in the log refer to physical names; the snapshot's
    # field-id map must cover every field.
    from ballista_delta_spark.sources.delta import DeltaTable

    snap = DeltaTable(tbl).snapshot
    assert snap.column_mapping_mode == "id"
    assert set(snap.field_ids.values()) == set(range(1, len(logical_names) + 1))
    # Writes stage under the junk physical names WITH parquet field ids,
    # so id-resolution keeps working over the appended files too.
    n = df.count()
    write_delta(df.limit(3), tbl, mode="append")
    out = read_delta(spark, tbl)
    assert out.count() == n + 3
    assert set(out.columns) == set(logical_names)


def test_write_type_enforcement(spark, tmp_path):
    """Same column names but different types must be rejected."""
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite")
    bad = src.withColumn("last_name", F.length("last_name"))
    with pytest.raises(ValueError, match="type mismatch"):
        write_delta(bad, tbl, mode="append")


def test_checkpoint_carries_format_and_tombstones(spark, tmp_path):
    """Checkpoints must be readable by OTHER engines: spec-required
    metaData.format/createdTime present, remove tombstones carried."""
    import pyarrow.parquet as pq

    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite")
    write_delta(src.limit(2), tbl, mode="overwrite")  # removes v0 files
    v = create_checkpoint(tbl)
    ckpt = pq.read_table(
        os.path.join(tbl, "_delta_log", f"{v:020d}.checkpoint.parquet")
    ).to_pylist()
    md = next(r["metaData"] for r in ckpt if r.get("metaData"))
    assert md["format"]["provider"] == "parquet"
    assert md["createdTime"] is not None
    removes = [r["remove"] for r in ckpt if r.get("remove")]
    assert removes and all(rm["path"] for rm in removes)
    # And our own reader replays it correctly.
    assert read_delta(spark, tbl).count() == 2


def test_mangled_url_decode_probes_hyphenated_dirs(tmp_path):
    """delta-rs's '-' mangling is lossy; the decoder must recover a real
    path whose components contain hyphens by probing the filesystem."""
    from ballista_delta_spark.sources.registry import resolve_url

    base = tmp_path / "my-data" / "my-table"
    (base / "_delta_log").mkdir(parents=True)
    mangled = "delta-rs://file-" + str(base).lstrip("/").replace("/", "-")
    assert resolve_url(mangled) == str(base)
    # Nothing on disk -> naive decode (documented fallback).
    assert resolve_url("delta-rs://file-no-such-dir") == "/no/such/dir"


def test_time_travel_by_timestamp(spark, tmp_path):
    """read_delta(timestamp_ms=...) resolves the latest commit at-or-before
    the timestamp (delta-rs load_with_datetime rule)."""
    import json as _json

    from ballista_delta_spark.sources.delta import version_at_timestamp

    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite")          # v0: 5 rows
    write_delta(src.limit(2), tbl, mode="append")    # v1: 7 rows
    # Pin distinct commit timestamps (writes within the same ms otherwise).
    log = os.path.join(tbl, "_delta_log")
    stamps = {0: 1000_000, 1: 2000_000}
    for v, ts in stamps.items():
        fp = os.path.join(log, f"{v:020d}.json")
        acts = [_json.loads(line) for line in open(fp)]
        for a in acts:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = ts
        with open(fp, "w") as fh:
            fh.writelines(_json.dumps(a) + "\n" for a in acts)
    assert version_at_timestamp(tbl, 1500_000) == 0
    assert read_delta(spark, tbl, timestamp_ms=1500_000).count() == 5
    assert read_delta(spark, tbl, timestamp_ms=2500_000).count() == 7
    with pytest.raises(ValueError, match="no commit"):
        version_at_timestamp(tbl, 999)


def test_vacuum_removes_only_expired_unreferenced_files(spark, tmp_path):
    from ballista_delta_spark.sources.delta import vacuum

    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite")
    write_delta(src.limit(2), tbl, mode="overwrite")  # tombstones v0's files
    # Within retention: nothing deleted.
    assert vacuum(tbl, retention_ms=10 * 60 * 1000) == []
    # Zero retention: tombstoned files go, current snapshot unaffected.
    deleted = vacuum(tbl, retention_ms=0)
    assert deleted
    assert read_delta(spark, tbl).count() == 2
    # Time travel to v0 is now (expectedly) broken — the retention contract.
    with pytest.raises(Exception):
        read_delta(spark, tbl, version=0).count()


def test_vacuum_reclaims_crashed_writer_orphans(spark, tmp_path):
    """delta-spark VACUUM semantics: files the log never references —
    untracked parquet and a crashed writer's .tmp-write staging tree —
    are reclaimed past retention; young orphans (a LIVE writer) and
    _-prefixed dirs are kept — EXCEPT _change_data, whose change files
    are reclaimed by the same window (delta-spark's VacuumCommand cdc
    carve-out, r14)."""
    import os as _os

    from ballista_delta_spark.sources.delta import vacuum

    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite")
    # a crashed writer: staged files + an orphan part-file at the root
    staging = _os.path.join(tbl, ".tmp-write-deadbeef")
    _os.makedirs(staging)
    open(_os.path.join(staging, "part-x.parquet"), "wb").write(b"junk")
    orphan = _os.path.join(tbl, "part-orphan.snappy.parquet")
    open(orphan, "wb").write(b"junk")
    cdc = _os.path.join(tbl, "_change_data")
    _os.makedirs(cdc)
    open(_os.path.join(cdc, "cdc-x.parquet"), "wb").write(b"cdc")
    # Within retention: the (young) orphans AND change files are
    # protected.
    assert vacuum(tbl, retention_ms=10 * 60 * 1000) == []
    # Past retention (0): orphans and change files reclaimed, log + live
    # snapshot untouched.
    dry = vacuum(tbl, retention_ms=0, dry_run=True)
    assert _os.path.exists(orphan)  # dry run touched nothing
    deleted = vacuum(tbl, retention_ms=0)
    assert sorted(deleted) == sorted(dry)
    assert ".tmp-write-deadbeef" in deleted
    assert "part-orphan.snappy.parquet" in deleted
    assert not _os.path.exists(orphan) and not _os.path.exists(staging)
    assert "_change_data/cdc-x.parquet" in deleted
    assert not _os.path.exists(_os.path.join(cdc, "cdc-x.parquet"))
    assert read_delta(spark, tbl).count() == 5


def _no_spark_job(spark, fn, *args, **kwargs):
    """Run ``fn`` under a fresh job group and assert it launched no Spark
    job."""
    import uuid

    group = f"driver-only-{uuid.uuid4()}"
    sc = spark.sparkContext
    sc.setJobGroup(group, fn.__name__)
    try:
        out = fn(*args, **kwargs)
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert list(jobs) == [], f"{fn.__name__} ran Spark jobs {list(jobs)}"
    return out


def test_vacuum_listing_on_many_files_runs_no_spark_job(spark, tmp_path):
    """VACUUM's untracked-file discovery is one driver walk at any size:
    on a table flooded with thousands of orphans in the root and in a
    Hive partition dir it launches no Spark job, keeps dot-files, leaves
    the DV bin to its own pass, protects young orphans and prunes the
    emptied partition dir."""
    import os as _os

    from ballista_delta_spark.sources import delta as d

    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite")
    n_root = 4196
    n_part = 304
    n = n_root + n_part
    part = _os.path.join(tbl, "p=1")
    _os.makedirs(part)
    for i in range(n_part):
        open(_os.path.join(part, f"orphan-{i}.parquet"), "wb").write(b"x")
    for i in range(n_root):
        open(_os.path.join(tbl, f"orph-root-{i}.parquet"), "wb").write(b"x")
    # debris the LISTING must skip: dot-files stay; the unreferenced DV
    # bin is reaped — but by the dedicated DV pass
    open(_os.path.join(tbl, "deletion_vector_orphan.bin"), "wb").write(b"x")
    open(_os.path.join(tbl, ".hidden"), "wb").write(b"x")
    dry = _no_spark_job(spark, d.vacuum, tbl, retention_ms=0, dry_run=True)
    assert len(dry) == n + 1  # the n orphans + the DV-pass-reaped bin
    assert sum(r.startswith("orph-root-") for r in dry) == n_root
    assert sum(r.startswith("p=1/orphan-") for r in dry) == n_part
    assert "deletion_vector_orphan.bin" in dry
    # Young orphans stay protected.
    assert d.vacuum(tbl, retention_ms=10 * 60 * 1000) == []
    deleted = _no_spark_job(spark, d.vacuum, tbl, retention_ms=0)
    assert sorted(deleted) == sorted(dry)
    assert read_delta(spark, tbl).count() == 5
    assert not _os.path.exists(part)  # emptied partition dir pruned
    assert _os.path.exists(_os.path.join(tbl, ".hidden"))


def test_vacuum_never_reaches_through_symlinks(spark, tmp_path):
    """A symlinked root dir pointing OUTSIDE the table must never be
    traversed or unlinked-through: the walk never follows links (os.walk
    default) — else VACUUM would destroy external files through it."""
    import os as _os

    from ballista_delta_spark.sources import delta as d

    tbl = str(tmp_path / "t")
    write_delta(read_delta(spark, FIXTURE), tbl, mode="overwrite")
    external = tmp_path / "external"
    external.mkdir()
    (external / "precious.parquet").write_bytes(b"keep me")
    _os.symlink(str(external), _os.path.join(tbl, "extdata"))
    # one real orphan so the pass provably ran and deleted SOMETHING
    open(_os.path.join(tbl, "orphan.parquet"), "wb").write(b"x")
    deleted = d.vacuum(tbl, retention_ms=0)
    assert "orphan.parquet" in deleted
    assert not any("extdata" in r or "precious" in r for r in deleted)
    assert (external / "precious.parquet").read_bytes() == b"keep me"
    # a second pass (fresh orphan) still leaves the link's target alone
    open(_os.path.join(tbl, "orphan2.parquet"), "wb").write(b"x")
    deleted2 = d.vacuum(tbl, retention_ms=0)
    assert "orphan2.parquet" in deleted2
    assert not any("extdata" in r or "precious" in r for r in deleted2)
    assert (external / "precious.parquet").read_bytes() == b"keep me"
    assert read_delta(spark, tbl).count() == 5


def test_fsck_existence_probe_runs_no_spark_job(spark, tmp_path):
    """FSCK's existence probe runs on the driver: the dry run reports the
    missing file without a Spark job, the repair drops it, and a second
    run finds nothing."""
    import os as _os

    from ballista_delta_spark.sources import delta as d

    tbl = str(tmp_path / "t")
    write_delta(read_delta(spark, FIXTURE), tbl, mode="overwrite")
    victim = sorted(DeltaTable(tbl).snapshot.files)[0]
    _os.unlink(_os.path.join(tbl, victim))
    dry = _no_spark_job(spark, d.fsck_repair, tbl, dry_run=True)
    assert dry["missing"] == [victim]
    res = d.fsck_repair(tbl)
    assert res["missing"] == [victim]
    assert d.fsck_repair(tbl)["numMissingFiles"] == 0


def test_optimize_compacts_files_without_changing_rows(spark, tmp_path):
    from ballista_delta_spark.sources.delta import optimize

    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite")
    write_delta(src.limit(1), tbl, mode="append")
    write_delta(src.limit(1), tbl, mode="append")
    before = DeltaTable(tbl).snapshot
    assert len(before.files) > 1
    rows_before = sorted(map(tuple, read_delta(spark, tbl).collect()))
    v = optimize(spark, tbl)
    after = DeltaTable(tbl).snapshot
    assert after.version == v
    assert len(after.files) == 1
    assert sorted(map(tuple, read_delta(spark, tbl).collect())) == rows_before
    # Compaction is dataChange=false on both sides of the commit.
    import json as _json

    acts = [
        _json.loads(line)
        for line in open(os.path.join(tbl, "_delta_log", f"{v:020d}.json"))
    ]
    assert all(
        a["add"]["dataChange"] is False for a in acts if "add" in a
    ) and all(a["remove"]["dataChange"] is False for a in acts if "remove" in a)


# ---------------------------------------------------------------------------
# Checkpoint layout coverage (Delta PROTOCOL.md "Checkpoints"): a 100 TB
# production table's normal state is "checkpoint present, old JSON cleaned",
# so snapshot construction must work from all three checkpoint layouts with
# no JSON log before the checkpoint version.
def _build_checkpointed_table(spark, tmp_path):
    """Table with 3 commits + classic checkpoint at v2; JSON ≤ v2 deleted."""
    import glob
    import json as _json

    tbl = str(tmp_path / "ckpt_tbl")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite")
    write_delta(src.limit(2), tbl, mode="append")
    write_delta(src.limit(1), tbl, mode="append")
    cv = create_checkpoint(tbl)
    assert cv == 2
    log = os.path.join(tbl, "_delta_log")
    for f in glob.glob(os.path.join(log, "*.json")):
        os.remove(f)
    with open(os.path.join(log, "_last_checkpoint")) as fh:
        meta = _json.loads(fh.read())
    return tbl, log, meta


def test_multipart_checkpoint_read_with_cleaned_log(spark, tmp_path):
    import json as _json

    import pyarrow.parquet as pq

    tbl, log, meta = _build_checkpointed_table(spark, tmp_path)
    cv = meta["version"]
    classic = os.path.join(log, f"{cv:020d}.checkpoint.parquet")
    t = pq.read_table(classic)
    mid = max(1, t.num_rows // 2)
    pq.write_table(
        t.slice(0, mid),
        os.path.join(log, f"{cv:020d}.checkpoint.0000000001.0000000002.parquet"),
    )
    pq.write_table(
        t.slice(mid),
        os.path.join(log, f"{cv:020d}.checkpoint.0000000002.0000000002.parquet"),
    )
    os.remove(classic)
    meta["parts"] = 2
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        fh.write(_json.dumps(meta))
    assert read_delta(spark, tbl).count() == 8  # 5 + 2 + 1


def test_multipart_checkpoint_incomplete_raises(spark, tmp_path):
    import json as _json

    import pyarrow.parquet as pq

    tbl, log, meta = _build_checkpointed_table(spark, tmp_path)
    cv = meta["version"]
    classic = os.path.join(log, f"{cv:020d}.checkpoint.parquet")
    t = pq.read_table(classic)
    pq.write_table(
        t.slice(0, 1),
        os.path.join(log, f"{cv:020d}.checkpoint.0000000001.0000000002.parquet"),
    )
    os.remove(classic)
    with pytest.raises(ValueError, match="incomplete"):
        read_delta(spark, tbl)


def test_v2_checkpoint_parquet_manifest_with_sidecars(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl, log, meta = _build_checkpointed_table(spark, tmp_path)
    cv = meta["version"]
    classic = os.path.join(log, f"{cv:020d}.checkpoint.parquet")
    t = pq.read_table(classic)
    rows = t.to_pylist()
    file_rows = [r for r in rows if r.get("add") or r.get("remove")]
    other_rows = [r for r in rows if not (r.get("add") or r.get("remove"))]
    os.makedirs(os.path.join(log, "_sidecars"), exist_ok=True)
    # Two sidecars, split the file actions between them (spec: sidecars
    # carry ONLY file actions; paths in the manifest are _sidecars-relative
    # file names).
    mid = max(1, len(file_rows) // 2)
    names = ["11111111-aaaa-4bbb-8ccc-000000000001.parquet",
             "11111111-aaaa-4bbb-8ccc-000000000002.parquet"]
    for name, chunk in zip(names, [file_rows[:mid], file_rows[mid:]]):
        pq.write_table(
            pa.Table.from_pylist(chunk, schema=t.schema),
            os.path.join(log, "_sidecars", name),
        )
    manifest = [
        {"checkpointMetadata": {"version": cv, "tags": None}},
        *other_rows,
        *({"sidecar": {"path": n, "sizeInBytes": 1, "modificationTime": 0}}
          for n in names),
    ]
    # from_pylist infers the schema from leading rows; be explicit so the
    # manifest keeps the metaData/protocol columns alongside the v2 actions.
    manifest_schema = pa.schema(
        [
            *t.schema,
            pa.field(
                "checkpointMetadata",
                pa.struct([("version", pa.int64()), ("tags", pa.string())]),
            ),
            pa.field(
                "sidecar",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("sizeInBytes", pa.int64()),
                        ("modificationTime", pa.int64()),
                    ]
                ),
            ),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist(manifest, schema=manifest_schema),
        os.path.join(
            log, f"{cv:020d}.checkpoint.22222222-aaaa-4bbb-8ccc-333333333333.parquet"
        ),
    )
    os.remove(classic)
    assert read_delta(spark, tbl).count() == 8


def test_v2_checkpoint_json_manifest_and_missing_sidecar(spark, tmp_path):
    import json as _json

    import pyarrow.parquet as pq

    tbl, log, meta = _build_checkpointed_table(spark, tmp_path)
    cv = meta["version"]
    classic = os.path.join(log, f"{cv:020d}.checkpoint.parquet")
    rows = pq.read_table(classic).to_pylist()
    manifest_path = os.path.join(
        log, f"{cv:020d}.checkpoint.44444444-aaaa-4bbb-8ccc-555555555555.json"
    )
    with open(manifest_path, "w") as fh:
        fh.write(_json.dumps({"checkpointMetadata": {"version": cv}}) + "\n")
        for r in rows:
            act = {k: v for k, v in r.items() if v is not None}
            fh.write(_json.dumps(act) + "\n")
        fh.write(
            _json.dumps({"sidecar": {"path": "missing.parquet"}}) + "\n"
        )
    os.remove(classic)
    with pytest.raises(ValueError, match="missing sidecar"):
        read_delta(spark, tbl)
    # Drop the dangling sidecar line: JSON manifest alone must reconstruct.
    with open(manifest_path) as fh:
        lines = fh.readlines()[:-1]
    with open(manifest_path, "w") as fh:
        fh.writelines(lines)
    assert read_delta(spark, tbl).count() == 8


def test_optimize_zorder_clusters_both_columns(spark, tmp_path):
    """OPTIMIZE ZORDER BY (x, y): after the rewrite, every file's min/max
    hyper-rectangle must be tight on BOTH columns — that is what makes
    per-file stats prune scans filtering on either one. A plain sort would
    be tight on x only; unclustered data on neither."""
    import json as _json

    from ballista_delta_spark.sources.delta import optimize

    tbl = str(tmp_path / "z")
    # 32x32 uniform grid, written row-major so y is unclustered.
    grid = spark.createDataFrame(
        [(x, y, x * 32 + y) for x in range(32) for y in range(32)],
        "x int, y int, payload int",
    ).coalesce(1)
    write_delta(grid, tbl)
    v = optimize(spark, tbl, target_file_rows=256, zorder_by=["x", "y"])
    assert v == 1
    snap = DeltaTable(tbl).snapshot
    assert len(snap.files) == 4
    total = 0
    for add in snap.files.values():
        st = _json.loads(add["stats"])
        total += st["numRecords"]
        for c in ("x", "y"):
            spread = int(st["maxValues"][c]) - int(st["minValues"][c])
            # A perfect 4-file Morton split gives quadrants of spread 15;
            # allow boundary slack but require REAL clustering on both
            # axes (unclustered spread would be 31).
            assert spread <= 23, (c, st)
    assert total == 1024
    # dataChange=false + identical rows.
    assert read_delta(spark, tbl).count() == 1024
    assert {
        (r.x, r.y) for r in read_delta(spark, tbl).select("x", "y").collect()
    } == {(x, y) for x in range(32) for y in range(32)}


def test_sql_optimize_zorder_by(spark, tmp_path):
    from ballista_delta_spark.session import sql

    tbl = str(tmp_path / "zq")
    write_delta(
        spark.createDataFrame(
            [(i % 16, i // 16, i) for i in range(256)],
            "a int, b int, v int",
        ).coalesce(1),
        tbl,
    )
    sql(spark, f"CREATE EXTERNAL TABLE zq STORED AS DELTA LOCATION '{tbl}'")
    out = sql(spark, "OPTIMIZE zq ZORDER BY (a, b)").collect()[0]
    assert out.committed_version == 1
    assert spark.sql("SELECT count(*) n FROM zq").collect()[0].n == 256

    from ballista_delta_spark.sources.delta import optimize

    with pytest.raises(ValueError, match="not in table schema"):
        optimize(spark, tbl, zorder_by=["v", "nope"])
    # Non-numeric columns refuse (width_bucket needs a linear domain).
    tbl2 = str(tmp_path / "zs")
    write_delta(read_delta(spark, FIXTURE), tbl2)
    with pytest.raises(ValueError, match="numeric"):
        optimize(spark, tbl2, zorder_by=["first_name"])


def test_in_commit_timestamps(spark, tmp_path):
    """delta.enableInCommitTimestamps: commitInfo carries a monotonic
    inCommitTimestamp and timestamp time travel prefers it over wall-clock
    timestamps or file mtimes."""
    import json as _json

    from ballista_delta_spark.sources.delta import version_at_timestamp

    tbl = str(tmp_path / "ict")
    write_delta(spark.createDataFrame([(1,)], "id int"), tbl)
    # Enable via log0 configuration (delta-spark would ALTER TBLPROPERTIES).
    log0 = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    with open(log0) as fh:
        acts = [_json.loads(ln) for ln in fh]
    for a in acts:
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.enableInCommitTimestamps": "true"
            }
    with open(log0, "w") as fh:
        fh.writelines(_json.dumps(a) + "\n" for a in acts)

    write_delta(spark.createDataFrame([(2,)], "id int"), tbl, mode="append")
    write_delta(spark.createDataFrame([(3,)], "id int"), tbl, mode="append")

    def ict(v):
        with open(os.path.join(tbl, "_delta_log", f"{v:020d}.json")) as fh:
            for ln in fh:
                a = _json.loads(ln)
                if "commitInfo" in a:
                    return a["commitInfo"].get("inCommitTimestamp")

    t1, t2 = ict(1), ict(2)
    assert t1 is not None and t2 is not None and t2 > t1
    # Timestamp time travel resolves through the stamps.
    assert version_at_timestamp(tbl, t1) == 1
    assert version_at_timestamp(tbl, t2 - 1) == 1
    assert version_at_timestamp(tbl, t2) == 2
    assert read_delta(spark, tbl, timestamp_ms=t1).count() == 2


def test_checkpoint_preserves_protocol_dv_and_table_id(spark, tmp_path):
    """A checkpoint must record the table's REAL state: its protocol (a
    v3/v7 DV table checkpointed as (1,2) loses every feature gate), its
    deletion vectors (dropping the descriptor resurrects deleted rows for
    checkpoint-replaying readers), and its original table id (streaming
    readers key state on it). Proven by replaying from the checkpoint
    ALONE — pre-checkpoint JSON commits deleted."""
    from ballista_delta_spark.sources.delta import _load_snapshot
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "ckdv")
    write_delta(spark.range(100).selectExpr("id").coalesce(1), tbl)
    before_id = DeltaTable(tbl).snapshot.metadata_raw["id"]
    delete_delta(spark, tbl, "id < 10", mode="dv")
    v = create_checkpoint(tbl)
    log = os.path.join(tbl, "_delta_log")
    for j in range(v + 1):
        p = os.path.join(log, f"{j:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    snap = _load_snapshot(tbl)
    assert snap.min_reader_version == 3 and snap.min_writer_version == 7
    assert "deletionVectors" in snap.reader_features
    assert "deletionVectors" in snap.writer_features
    assert snap.metadata_raw["id"] == before_id
    got = read_delta(spark, tbl)
    assert got.count() == 90
    assert got.filter("id < 10").count() == 0


def test_optimize_zorder_timestamp_and_date(spark, tmp_path):
    """ZORDER BY over (timestamp, numeric) — time is the single most
    common z-order key in practice. Linearized to epoch micros, so the
    same tight-hyper-rectangle contract as the numeric test holds: after
    the rewrite every file is range-tight on BOTH ts and value."""
    import datetime as _dt
    import json as _json

    from ballista_delta_spark.sources.delta import optimize

    tbl = str(tmp_path / "zts")
    base = _dt.datetime(2024, 1, 1)
    # 32x32 grid over (hour-of-year, value), row-major on ts.
    rows = [
        (base + _dt.timedelta(hours=h), v, h * 32 + v)
        for h in range(32)
        for v in range(32)
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, value int, payload int"
    ).coalesce(1)
    write_delta(df, tbl)
    v = optimize(spark, tbl, target_file_rows=256, zorder_by=["ts", "value"])
    assert v == 1
    snap = DeltaTable(tbl).snapshot
    assert len(snap.files) == 4
    for add in snap.files.values():
        st = _json.loads(add["stats"])
        ts_mn = _dt.datetime.fromisoformat(
            st["minValues"]["ts"].replace("T", " ").replace("Z", "")
        )
        ts_mx = _dt.datetime.fromisoformat(
            st["maxValues"]["ts"].replace("T", " ").replace("Z", "")
        )
        spread_h = (ts_mx - ts_mn).total_seconds() / 3600
        assert spread_h <= 23, st
        spread_v = int(st["maxValues"]["value"]) - int(st["minValues"]["value"])
        assert spread_v <= 23, st
    assert read_delta(spark, tbl).count() == 1024

    # DATE columns linearize via epoch days.
    tbl2 = str(tmp_path / "zdate")
    rows2 = [
        (base.date() + _dt.timedelta(days=d), d) for d in range(256)
    ]
    write_delta(
        spark.createDataFrame(rows2, "d date, v int").coalesce(1), tbl2
    )
    assert optimize(spark, tbl2, target_file_rows=128, zorder_by=["d"]) == 1
    assert read_delta(spark, tbl2).count() == 256
    with pytest.raises(ValueError, match="not in table schema"):
        optimize(spark, tbl2, zorder_by=["nope"])


def test_cleanup_log_respects_checkpoint_and_retention(spark, tmp_path):
    """Metadata retention: only commits BOTH older than the window AND
    covered by a newer checkpoint are reaped; the table stays readable and
    time travel to surviving versions still works."""
    import os

    from ballista_delta_spark.sources.delta import (
        cleanup_log,
        create_checkpoint,
        read_delta,
    )

    tbl = str(tmp_path / "t")
    df = spark.range(5).selectExpr("id AS k")
    write_delta(df, tbl, mode="overwrite")
    for i in range(3):
        write_delta(spark.range(5 * (i + 1), 5 * (i + 2)).selectExpr("id AS k"), tbl, mode="append")
    # No checkpoint yet -> nothing may be deleted, regardless of age.
    assert cleanup_log(tbl, retention_ms=0) == []
    cv = create_checkpoint(tbl)
    assert cv == 3
    # Inside the retention window -> still nothing.
    assert cleanup_log(tbl) == []
    # Zero retention -> commits 0..2 reaped, checkpoint version kept.
    gone = cleanup_log(tbl, retention_ms=0)
    # each reaped commit takes its .crc checksum sidecar with it
    assert sorted({g.split(".")[0] for g in gone}) == [
        f"{v:020d}" for v in range(3)
    ]
    assert {g.split(".", 1)[1] for g in gone} == {"json", "crc"}
    log = os.path.join(tbl, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{3:020d}.json"))
    # Table still reads fully (checkpoint replay) and accepts new commits.
    assert read_delta(spark, tbl).count() == 20
    write_delta(spark.range(100, 101).selectExpr("id AS k"), tbl, mode="append")
    assert read_delta(spark, tbl).count() == 21
    # Time travel to a reaped version fails loudly, to a surviving one works.
    assert read_delta(spark, tbl, version=3).count() == 20


def test_write_multipart_checkpoint_and_replay(spark, tmp_path):
    import glob as _glob

    from ballista_delta_spark.sources.delta import cleanup_log

    tbl = str(tmp_path / "mp")
    write_delta(spark.range(30).selectExpr("id").repartition(3), tbl)
    write_delta(spark.range(30, 40).selectExpr("id"), tbl, mode="append")
    v = create_checkpoint(tbl, parts=3)
    parts = _glob.glob(
        os.path.join(tbl, "_delta_log", f"{v:020d}.checkpoint.*.*.parquet")
    )
    assert len(parts) == 3
    import json as _json

    with open(os.path.join(tbl, "_delta_log", "_last_checkpoint")) as fh:
        lc = _json.load(fh)
    assert lc["parts"] == 3 and lc["version"] == v
    # replay works with every pre-checkpoint JSON commit reaped
    cleanup_log(tbl, retention_ms=0)
    assert read_delta(spark, tbl).count() == 40


def test_write_v2_checkpoint_and_replay(spark, tmp_path):
    import glob as _glob

    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        alter_properties,
        cleanup_log,
    )

    tbl = str(tmp_path / "v2")
    write_delta(spark.range(25).selectExpr("id", "id % 3 AS k"), tbl)
    # v2 checkpoints are feature-gated
    with pytest.raises(ValueError, match="v2Checkpoint"):
        create_checkpoint(tbl, checkpoint_format="v2")
    alter_properties(spark, tbl, {"delta.checkpointPolicy": "v2"})
    snap = _load_snapshot(tbl)
    assert "v2Checkpoint" in snap.reader_features
    assert "v2Checkpoint" in snap.writer_features
    # auto format: the policy makes plain create_checkpoint write v2
    v = create_checkpoint(tbl)
    manifests = _glob.glob(
        os.path.join(tbl, "_delta_log", f"{v:020d}.checkpoint.*.parquet")
    )
    assert len(manifests) == 1
    assert _glob.glob(os.path.join(tbl, "_delta_log", "_sidecars", "*.parquet"))
    cleanup_log(tbl, retention_ms=0)
    got = read_delta(spark, tbl)
    assert got.count() == 25
    # protocol/features survived the checkpoint replay
    snap2 = _load_snapshot(tbl)
    assert "v2Checkpoint" in snap2.reader_features


def test_cluster_by_and_optimize_defaults_to_clustering(spark, tmp_path):
    import json as _json

    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        cleanup_log,
        cluster_by,
        clustering_columns,
        optimize,
    )

    tbl = str(tmp_path / "liquid")
    write_delta(
        spark.range(1000).selectExpr(
            "id", "id % 37 AS a", "CAST(id % 11 AS DOUBLE) AS b"
        ).repartition(4),
        tbl,
    )
    with pytest.raises(ValueError, match="no such column"):
        cluster_by(tbl, ["ghost"])
    v = cluster_by(tbl, ["a", "b"])
    snap = _load_snapshot(tbl)
    assert snap.version == v
    assert clustering_columns(snap) == ["a", "b"]
    assert {"domainMetadata", "clustering"} <= set(snap.writer_features)
    # the domain config uses the spec's nested-path shape
    conf = _json.loads(snap.domain_metadata["delta.clustering"])
    assert conf["clusteringColumns"] == [["a"], ["b"]]
    # plain OPTIMIZE (no zorder_by) clusters on the declared columns
    v2 = optimize(spark, tbl, target_file_rows=250)
    snap2 = _load_snapshot(tbl)
    assert snap2.version == v2
    assert len(snap2.files) >= 2
    got = read_delta(spark, tbl)
    assert got.count() == 1000
    # clustered files cover narrow `a` ranges -> per-file min/max spans
    # must be far below the global 0..36 span on average
    spans = []
    for add in snap2.files.values():
        st = _json.loads(add["stats"])
        spans.append(int(st["maxValues"]["a"]) - int(st["minValues"]["a"]))
    assert sum(spans) / len(spans) < 36 * 0.75
    # domain metadata survives checkpoint + log truncation
    from ballista_delta_spark.sources.delta import create_checkpoint

    create_checkpoint(tbl)
    cleanup_log(tbl, retention_ms=0)
    assert clustering_columns(_load_snapshot(tbl)) == ["a", "b"]
    # CLUSTER BY NONE removes the domain
    cluster_by(tbl, None)
    assert clustering_columns(_load_snapshot(tbl)) == []


def test_cluster_by_sql_ddl(spark, tmp_path):
    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        clustering_columns,
    )

    tbl = str(tmp_path / "liquid_sql")
    write_delta(spark.range(20).selectExpr("id", "id % 3 AS a"), tbl)
    sql(
        spark,
        f"CREATE EXTERNAL TABLE liq_t STORED AS DELTA LOCATION '{tbl}'",
    )
    sql(spark, "ALTER TABLE liq_t CLUSTER BY (a)")
    assert clustering_columns(_load_snapshot(tbl)) == ["a"]
    sql(spark, "ALTER TABLE liq_t CLUSTER BY NONE")
    assert clustering_columns(_load_snapshot(tbl)) == []
    spark.catalog.dropTempView("liq_t")


def test_describe_detail_sql(spark, tmp_path):
    tbl = str(tmp_path / "detail")
    write_delta(
        spark.range(10).selectExpr("id", "CAST(id % 2 AS INT) AS p")
        .coalesce(1),
        tbl, partition_by=["p"],
    )
    sql(
        spark,
        f"CREATE EXTERNAL TABLE det_t STORED AS DELTA LOCATION '{tbl}'",
    )
    row = sql(spark, "DESCRIBE DETAIL det_t").collect()[0]
    assert row.format == "delta"
    assert row.partitionColumns == ["p"]
    assert row.numFiles == 2
    assert row.sizeInBytes > 0
    assert row.minReaderVersion == 1 and row.minWriterVersion == 2
    assert row.location.endswith("detail")
    spark.catalog.dropTempView("det_t")


def test_convert_to_delta_in_place(spark, tmp_path):
    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        convert_to_delta,
    )

    src = str(tmp_path / "plain")
    spark.range(100).selectExpr(
        "id", "id * 2 AS v", "CAST(id % 3 AS INT) AS p"
    ).repartition(2).write.partitionBy("p").parquet(src)
    files_before = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(src) for f in fs if f.endswith(".parquet")
    )
    v = convert_to_delta(spark, src)
    assert v == 0
    # files untouched, in place
    files_after = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(src) for f in fs
        if f.endswith(".parquet") and "_delta_log" not in r
    )
    assert files_after == files_before
    snap = _load_snapshot(src)
    assert snap.partition_columns == ["p"]
    assert snap.schema["p"].dataType.simpleString() == "int"
    got = read_delta(spark, src)
    assert got.count() == 100
    assert got.filter("p = 1").count() == 33
    # stats landed -> data skipping works on the converted table
    assert all(a.get("stats") for a in snap.files.values())
    # converted table is writable like any other
    write_delta(
        spark.createDataFrame([(1000, 2000, 1)], "id long, v long, p int"),
        src, mode="append",
    )
    assert read_delta(spark, src).count() == 101
    with pytest.raises(ValueError, match="already a Delta table"):
        convert_to_delta(spark, src)


def test_convert_to_delta_refuses_truncated_footer(spark, tmp_path):
    """CONVERT reads every file's footer for its stats; a 4-file directory
    with one truncated parquet file must fail the conversion rather than
    commit a table with a file it cannot describe."""
    from ballista_delta_spark.sources.delta import _log_dir, convert_to_delta

    src = str(tmp_path / "plain_trunc")
    spark.range(0, 400, 1, 4).selectExpr("id").write.parquet(src)
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert len(files) == 4
    # the last file, so Spark's schema inference (first file) succeeds
    victim = os.path.join(src, files[-1])
    with open(victim, "rb") as fh:
        head = fh.read(16)
    with open(victim, "wb") as fh:
        fh.write(head)
    with pytest.raises(Exception):
        convert_to_delta(spark, src)
    assert not os.path.isdir(_log_dir(src))


def test_convert_to_delta_sql(spark, tmp_path):
    src = str(tmp_path / "plain_sql")
    spark.range(10).selectExpr("id").coalesce(1).write.parquet(src)
    out = sql(spark, f"CONVERT TO DELTA parquet.`{src}`").collect()[0]
    assert out.committed_version == 0
    assert read_delta(spark, src).count() == 10


def test_fsck_repair_drops_missing_files(spark, tmp_path):
    import glob as _glob

    from ballista_delta_spark.sources.delta import fsck_repair

    tbl = str(tmp_path / "fsck")
    write_delta(
        spark.range(100).selectExpr("id").repartitionByRange(4, "id"), tbl
    )
    victim = sorted(_glob.glob(os.path.join(tbl, "*.parquet")))[0]
    os.unlink(victim)
    # the damaged table can't scan
    with pytest.raises(Exception):
        read_delta(spark, tbl).count()
    dry = fsck_repair(tbl, dry_run=True)
    assert dry["numMissingFiles"] == 1
    res = fsck_repair(tbl)
    assert res["numMissingFiles"] == 1
    got = read_delta(spark, tbl)
    assert got.count() == 75  # the missing quarter is gone, rest scans
    # idempotent: nothing left to repair
    assert fsck_repair(tbl)["numMissingFiles"] == 0


def test_optimize_where_scopes_the_rewrite(spark, tmp_path):
    from ballista_delta_spark.sources.delta import _load_snapshot, optimize

    tbl = str(tmp_path / "optwhere")
    # 3 partitions x 2 files each
    for half in (0, 1):
        write_delta(
            spark.range(half * 300, half * 300 + 300).selectExpr(
                "id", "CAST(id % 3 AS INT) AS p"
            ).coalesce(1),
            tbl, mode="append" if half else "overwrite",
            partition_by=["p"],
        )
    snap = _load_snapshot(tbl)
    assert len(snap.files) == 6
    untouched = {
        rel for rel, a in snap.files.items()
        if a["partitionValues"].get("p") != "1"
    }
    v = optimize(spark, tbl, where="p = 1")
    after = _load_snapshot(tbl)
    assert after.version == v
    # p=1's two files compacted into one; other partitions untouched
    assert untouched <= set(after.files)
    p1 = [
        a for a in after.files.values()
        if a["partitionValues"].get("p") == "1"
    ]
    assert len(p1) == 1
    assert read_delta(spark, tbl).count() == 600
    assert read_delta(spark, tbl).filter("p = 1").count() == 200
    # SQL form
    sql(
        spark,
        f"CREATE EXTERNAL TABLE ow_t STORED AS DELTA LOCATION '{tbl}'",
    )
    sql(spark, "OPTIMIZE ow_t WHERE p = 2")
    after2 = _load_snapshot(tbl)
    assert len([
        a for a in after2.files.values()
        if a["partitionValues"].get("p") == "2"
    ]) == 1
    assert spark.table("ow_t").count() == 600
    spark.catalog.dropTempView("ow_t")


def test_timestamp_travel_survives_log_cleanup(spark, tmp_path):
    import time as _time

    from ballista_delta_spark.sources.delta import (
        cleanup_log,
        create_checkpoint,
        version_at_timestamp,
    )

    tbl = str(tmp_path / "tsclean")
    write_delta(spark.range(5).selectExpr("id").coalesce(1), tbl)      # v0
    write_delta(
        spark.range(5, 8).selectExpr("id"), tbl, mode="append"
    )                                                                   # v1
    _time.sleep(0.05)
    mid_ms = int(_time.time() * 1000)
    _time.sleep(0.05)
    write_delta(
        spark.range(8, 10).selectExpr("id"), tbl, mode="append"
    )                                                                   # v2
    create_checkpoint(tbl)
    cleanup_log(tbl, retention_ms=0)  # v0/v1 JSON gone
    assert not os.path.exists(
        os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    )
    # "now" resolves to the latest surviving commit
    now_v = version_at_timestamp(tbl, int(_time.time() * 1000))
    assert now_v == 2
    # a timestamp inside the cleaned range has no surviving commit <= it
    with pytest.raises(ValueError, match="no commit"):
        version_at_timestamp(tbl, mid_ms)


def test_restore_to_timestamp(spark, tmp_path):
    import datetime as _dt
    import time as _time

    tbl = str(tmp_path / "rts")
    write_delta(spark.range(5).selectExpr("id").coalesce(1), tbl)       # v0
    _time.sleep(0.05)
    mid = _dt.datetime.now(_dt.timezone.utc)
    _time.sleep(0.05)
    write_delta(spark.range(5, 9).selectExpr("id"), tbl, mode="append")  # v1
    assert read_delta(spark, tbl).count() == 9
    sql(
        spark,
        f"CREATE EXTERNAL TABLE rts_t STORED AS DELTA LOCATION '{tbl}'",
    )
    out = sql(
        spark,
        f"RESTORE TABLE rts_t TO TIMESTAMP AS OF '{mid.isoformat()}'",
    ).collect()[0]
    assert out.restoredVersion == 0
    assert spark.table("rts_t").count() == 5
    spark.catalog.dropTempView("rts_t")


def test_vacuum_protocol_check_feature(spark, tmp_path):
    """vacuumProtocolCheck (reader 3 / writer 7): vacuum must prove it
    understands the FULL writer protocol before reaping files — a table
    advertising an unknown writerFeature may keep live data in files a
    legacy vacuum would treat as orphans. The feature itself is
    accepted on both reader and writer allowlists (readers need no
    behavior change); an unknown sibling feature makes vacuum refuse."""
    import json
    import os as _os

    from ballista_delta_spark.sources.delta import vacuum

    tbl = str(tmp_path / "t")
    src = read_delta(spark, FIXTURE)
    write_delta(src, tbl, mode="overwrite")
    write_delta(src.limit(2), tbl, mode="overwrite")  # tombstones v0

    def bump_protocol(extra_writer):
        log = _os.path.join(tbl, "_delta_log")
        v = max(
            int(f[:20]) for f in _os.listdir(log)
            if f.endswith(".json") and f[:20].isdigit()
        ) + 1
        with open(_os.path.join(log, f"{v:020d}.json"), "w") as fh:
            fh.write(json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["vacuumProtocolCheck"],
                "writerFeatures": ["vacuumProtocolCheck"] + extra_writer,
            }}) + "\n")
            fh.write(json.dumps({"commitInfo": {"operation": "UPGRADE"}}))

    # Feature present and understood: table still reads, vacuum still reaps.
    bump_protocol([])
    assert read_delta(spark, tbl).count() == 2
    assert vacuum(tbl, retention_ms=0)

    # Unknown writer feature alongside it: vacuum must refuse (the data
    # files of a feature we don't implement are not ours to judge).
    bump_protocol(["futureDvStorageFormat"])
    with pytest.raises(ValueError, match="futureDvStorageFormat"):
        vacuum(tbl, retention_ms=0, dry_run=True)


def test_delta_feature_property_upgrades_protocol(spark, tmp_path):
    """delta.feature.<name>='supported' is a protocol directive: the
    feature joins the protocol lists (reader+writer for reader-writer
    features), the key itself is NEVER persisted in the configuration,
    and UNSET refuses (DROP FEATURE owns removal)."""
    import pytest

    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        alter_properties,
        write_delta,
    )

    tbl = str(tmp_path / "t")
    write_delta(spark.range(5).selectExpr("id"), tbl)

    alter_properties(
        spark, tbl, set_props={"delta.feature.deletionVectors": "supported"}
    )
    snap = _load_snapshot(tbl)
    assert "deletionVectors" in snap.writer_features
    assert "deletionVectors" in snap.reader_features
    assert snap.min_reader_version >= 3 and snap.min_writer_version >= 7
    assert "delta.feature.deletionVectors" not in snap.configuration

    # writer-only feature: reader list untouched
    alter_properties(
        spark, tbl, set_props={"delta.feature.appendOnly": "supported"}
    )
    snap = _load_snapshot(tbl)
    assert "appendOnly" in snap.writer_features
    assert "appendOnly" not in snap.reader_features

    # idempotent re-set commits no second upgrade; unknown names refuse
    v = snap.version
    alter_properties(
        spark, tbl, set_props={"delta.feature.appendOnly": "supported"}
    )
    assert "appendOnly" in _load_snapshot(tbl).writer_features
    with pytest.raises(ValueError, match="unknown Delta table feature"):
        alter_properties(
            spark, tbl, set_props={"delta.feature.notAThing": "supported"}
        )
    with pytest.raises(ValueError, match="DROP FEATURE"):
        alter_properties(
            spark, tbl, unset_keys=["delta.feature.appendOnly"]
        )
    with pytest.raises(ValueError, match="only accepts"):
        alter_properties(
            spark, tbl, set_props={"delta.feature.invariants": "false"}
        )


def test_commit_stats_launch_no_spark_job(spark, tmp_path, monkeypatch):
    """A commit's per-file stats come from parquet footers read on the
    driver: a 64-file write runs exactly ONE Spark job (the write itself)
    and makes one driver _file_stats call per staged file. A separate
    footer-stats job cost ~0.5 s at every file count measured, far more
    than the driver's ~0.15 ms per footer."""
    from ballista_delta_spark.sources import delta as d

    footer_calls = []
    real_file_stats = d._file_stats
    monkeypatch.setattr(
        d, "_file_stats",
        lambda *a, **kw: footer_calls.append(a) or real_file_stats(*a, **kw),
    )

    tbl = str(tmp_path / "many_files")
    # 64 range partitions -> 64 part-files with no shuffle, so the write
    # is one job even under AQE (which runs each query stage as a job)
    src = spark.range(0, 2000, 1, 64).selectExpr(
        "id", "id % 7 AS grp", "cast(id AS double) AS v"
    )
    sc = spark.sparkContext
    sc.setJobGroup("commit-stats", "64-file write_delta")
    try:
        write_delta(src, tbl, mode="overwrite")
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("commit-stats")
    assert len(jobs) == 1, f"expected only the write job, got {len(jobs)}"
    assert len(footer_calls) == 64

    snap = d._load_snapshot(tbl)
    assert len(snap.files) == 64
    import json as _json

    total = 0
    for add in snap.files.values():
        st = _json.loads(add["stats"])
        total += st["numRecords"]
        assert set(st["nullCount"]) == {"id", "grp", "v"}
        assert st["minValues"]["id"] >= 0 and st["maxValues"]["id"] <= 1999
    assert total == 2000
    # and the stats actually round-trip through the reader
    assert read_delta(spark, tbl).count() == 2000

    # a one-file append reads one footer
    footer_calls.clear()
    write_delta(
        spark.range(5).selectExpr("id", "id % 7 AS grp", "cast(id AS double) AS v")
        .coalesce(1),
        tbl,
        mode="append",
    )
    assert len(footer_calls) == 1


def test_snapshot_replay_holds_checkpoint_adds_columnar(tmp_path):
    """A 100k-add checkpointed log must open in seconds and stay LAZY
    (VERDICT r9 'What's wrong' #3): _load_snapshot keeps checkpoint add
    actions as pyarrow columns; per-add dicts materialize only on access
    — one for a point lookup, the full set only for bulk consumers."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ballista_delta_spark.sources import delta as d

    tbl = tmp_path / "bigtable"
    log = tbl / "_delta_log"
    log.mkdir(parents=True)

    n = 100_000
    schema_json = (
        '{"type":"struct","fields":['
        '{"name":"id","type":"long","nullable":true,"metadata":{}}]}'
    )
    smap = pa.map_(pa.string(), pa.string())
    add_t = pa.struct([
        ("path", pa.string()), ("partitionValues", smap),
        ("size", pa.int64()), ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()), ("stats", pa.string()),
    ])
    meta_t = pa.struct([
        ("id", pa.string()),
        ("format", pa.struct([("provider", pa.string()), ("options", smap)])),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", smap), ("createdTime", pa.int64()),
    ])
    proto_t = pa.struct([
        ("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32()),
    ])
    meta = {
        "id": "11111111-2222-3333-4444-555555555555",
        "format": {"provider": "parquet", "options": []},
        "schemaString": schema_json,
        "partitionColumns": [],
        "configuration": [],
        "createdTime": 1700000000000,
    }
    proto = {"minReaderVersion": 1, "minWriterVersion": 2}
    adds = pa.table({
        "add": pa.array(
            [
                {
                    "path": f"part-{i:06d}.snappy.parquet",
                    "partitionValues": [],
                    "size": 1024 + i,
                    "modificationTime": 1700000000000,
                    "dataChange": True,
                    "stats": f'{{"numRecords":{10 + i % 5}}}',
                }
                for i in range(n)
            ],
            type=add_t,
        )
    })
    misc = pa.table({
        "metaData": pa.array([meta, None], type=meta_t),
        "protocol": pa.array([None, proto], type=proto_t),
        "add": pa.array([None, None], type=add_t),
    })
    cv = 3
    pq.write_table(misc, log / f"{cv:020d}.checkpoint.{0:010d}.{2:010d}.parquet")
    pq.write_table(adds, log / f"{cv:020d}.checkpoint.{1:010d}.{2:010d}.parquet")
    (log / "_last_checkpoint").write_text(f'{{"version": {cv}, "size": {n + 2}}}')

    t0 = _time.monotonic()
    snap = d._load_snapshot(str(tbl))
    open_s = _time.monotonic() - t0
    assert snap.version == cv
    assert len(snap.files) == n
    assert open_s < 5.0, f"100k-add open took {open_s:.2f}s"

    fi = snap.files
    assert isinstance(fi, d._FileIndex)
    assert len(fi._cache) == 0, "open must not materialize any add dict"

    # the read path's DV probe answers columnar — still nothing
    # materialized (r10 review: _dv_filter must not pay back the lazy
    # open on the first scan of a DV-free table)
    assert d._dv_paths(snap) == []
    assert len(fi._cache) == 0

    # point lookup materializes exactly one add (the DML access shape)
    one = fi["part-000042.snappy.parquet"]
    assert one["size"] == 1024 + 42 and one["partitionValues"] == {}
    assert len(fi._cache) == 1

    # bulk view batch-materializes and agrees with the columnar base
    total = sum(a["size"] for a in fi.values())
    assert total == sum(1024 + i for i in range(n))

    # dict-equivalent mutation semantics (the JSON-tail overlay path)
    fi["extra.parquet"] = {"path": "extra.parquet", "size": 1}
    del fi["part-000000.snappy.parquet"]
    assert len(fi) == n and "part-000000.snappy.parquet" not in fi
    assert dict(fi)["extra.parquet"]["size"] == 1


def test_checkpoint_columnar_path_matches_dict_path(spark, tmp_path):
    """create_checkpoint's two add-column builders must be byte-equivalent:
    the dict path (plain-dict snapshot, JSON replay) and the columnar path
    (checkpoint-backed _FileIndex, arrow take+project). Build a rich table
    (partitions, DVs, ZCube tags, txn, domainMetadata), checkpoint it from
    JSON replay, then re-checkpoint the SAME version from the
    checkpoint-backed snapshot and compare every action row."""
    import pyarrow.parquet as pq

    from ballista_delta_spark.sources import delta as d
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "rich")
    write_delta(
        spark.range(300).selectExpr(
            "id", "id % 7 AS a", "CAST(id % 3 AS INT) AS p"
        ).repartition(4),
        tbl, partition_by=["p"],
        txn_app="diff_test", txn_version=7,
    )
    d.alter_properties(spark, tbl, {"delta.enableDeletionVectors": "true"})
    d.cluster_by(tbl, ["a"])
    d.optimize(spark, tbl)                      # ZCube-tagged adds
    delete_delta(spark, tbl, "id % 11 = 0", mode="dv")  # DV-carrying adds

    snap_json = d._load_snapshot(tbl)
    assert not isinstance(snap_json.files, d._FileIndex)  # dict path
    assert any(a.get("deletionVector") for a in snap_json.files.values())
    assert any(a.get("tags") for a in snap_json.files.values())

    v = d.create_checkpoint(tbl)
    ckpt = os.path.join(tbl, "_delta_log", f"{v:020d}.checkpoint.parquet")
    first = pq.read_table(ckpt)

    snap_ckpt = d._load_snapshot(tbl)
    assert isinstance(snap_ckpt.files, d._FileIndex)  # columnar path
    assert d.create_checkpoint(tbl) == v  # overwrites the same file
    second = pq.read_table(ckpt)

    assert first.schema.equals(second.schema)

    def norm(t):
        import json as _json

        rows = t.to_pylist()
        return sorted(
            _json.dumps(r, sort_keys=True, default=str) for r in rows
        )

    assert norm(first) == norm(second)

    # and the re-written checkpoint still replays to the same state
    snap_again = d._load_snapshot(tbl)
    assert dict(snap_again.files) == dict(snap_ckpt.files)
    assert snap_again.app_transactions == {"diff_test": 7}
    assert "delta.clustering" in snap_again.domain_metadata
    assert read_delta(spark, tbl).count() == 300 - 28


def test_vacuum_orphan_symlink_parity(spark, tmp_path):
    """An orphan that IS a symlink is reclaimed (the link only — never
    the target), on every pass that meets one."""
    import os as _os

    from ballista_delta_spark.sources import delta as d

    tbl = str(tmp_path / "t")
    write_delta(read_delta(spark, FIXTURE), tbl, mode="overwrite")
    external = tmp_path / "external"
    external.mkdir()
    (external / "target.parquet").write_bytes(b"keep me")
    _os.symlink(
        str(external / "target.parquet"), _os.path.join(tbl, "link1.parquet")
    )
    deleted = d.vacuum(tbl, retention_ms=0)
    assert "link1.parquet" in deleted
    assert not _os.path.lexists(_os.path.join(tbl, "link1.parquet"))
    assert (external / "target.parquet").read_bytes() == b"keep me"
    # a second orphan link on the next pass goes the same way
    _os.symlink(
        str(external / "target.parquet"), _os.path.join(tbl, "link2.parquet")
    )
    deleted2 = d.vacuum(tbl, retention_ms=0)
    assert "link2.parquet" in deleted2
    assert not _os.path.lexists(_os.path.join(tbl, "link2.parquet"))
    assert (external / "target.parquet").read_bytes() == b"keep me"
    assert read_delta(spark, tbl).count() == 5


def test_empty_part_files_never_committed(spark, tmp_path):
    """Zero-row part files are skipped on EVERY stats path (footer,
    distributed, variant agg) — an empty add burns a phantom row id on
    rowTracking tables and delta-spark never commits one (review
    finding, r11)."""
    import json as _json

    tbl = str(tmp_path / "t")
    # Force empty shuffle partitions: 1 row across 8 partitions.
    write_delta(
        spark.createDataFrame([(1, "a")], "id long, s string").repartition(8),
        tbl,
    )
    snap = DeltaTable(tbl).snapshot
    assert len(snap.files) == 1  # 7 empty part files skipped
    for a in snap.files.values():
        assert _json.loads(a["stats"])["numRecords"] > 0
    assert read_delta(spark, tbl).count() == 1
    # an entirely empty append commits a version with zero adds
    write_delta(
        spark.createDataFrame([], "id long, s string"), tbl, mode="append",
    )
    snap2 = DeltaTable(tbl).snapshot
    assert len(snap2.files) == 1
    assert read_delta(spark, tbl).count() == 1


def test_file_stats_poison_partial_row_group_claims(tmp_path):
    """min/max built from a SUBSET of row groups must not be presented as
    whole-file bounds: a binary column whose second row group holds
    non-UTF-8 values (undecodable stats) decodes fine in group one —
    claiming group one's bounds would let skip_files prune rows living in
    group two (review finding, r11)."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from ballista_delta_spark.sources.delta import _file_stats

    p = str(tmp_path / "f.parquet")
    schema = pa.schema([("s", pa.binary()), ("n", pa.int64())])
    with pq.ParquetWriter(p, schema) as w:
        w.write_table(pa.table({"s": [b"aa", b"bb"], "n": [1, None]}))
        w.write_table(pa.table({"s": [b"\xff\xfe", b"\xff"], "n": [9, 9]}))
    fields = [
        T.StructField("s", T.BinaryType()),
        T.StructField("n", T.LongType()),
    ]
    st = _json.loads(_file_stats(p, fields))
    assert st["numRecords"] == 4
    # group 2's stats are undecodable -> the column claims NO bounds
    assert "s" not in st["minValues"] and "s" not in st["maxValues"]
    # null counts still sum across both groups
    assert st["nullCount"]["n"] == 1
    # the decodable sibling column keeps full-file bounds
    assert st["minValues"]["n"] == 1 and st["maxValues"]["n"] == 9


def test_file_stats_ignore_empty_row_groups(tmp_path):
    """A zero-row row group contributes no values; its (absent) stats
    must not poison the file's otherwise-complete claims."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from ballista_delta_spark.sources.delta import _file_stats

    p = str(tmp_path / "f.parquet")
    schema = pa.schema([("n", pa.int64())])
    with pq.ParquetWriter(p, schema) as w:
        w.write_table(pa.table({"n": [3, 7]}))
        w.write_table(pa.table({"n": pa.array([], pa.int64())}))
    st = _json.loads(_file_stats(p, [T.StructField("n", T.LongType())]))
    assert st["numRecords"] == 2
    assert st["minValues"]["n"] == 3 and st["maxValues"]["n"] == 7
    assert st["nullCount"]["n"] == 0


def test_checkpoint_protection_gates_metadata_cleanup(spark, tmp_path):
    """checkpointProtection (Delta PROTOCOL.md): once the table sets
    delta.requireCheckpointProtectionBeforeVersion = N, metadata cleanup
    whose truncation boundary sits BELOW N must touch nothing — a partial
    cleanup could reap a protected checkpoint. A boundary at/above N
    cleans up normally, and DROP FEATURE refuses while the property is
    still set."""
    import os as _os

    from ballista_delta_spark.sources.delta import (
        alter_properties,
        cleanup_log,
        create_checkpoint,
        drop_feature,
        read_delta,
    )

    tbl = str(tmp_path / "t")
    write_delta(spark.range(3).selectExpr("id AS k"), tbl)
    write_delta(spark.range(3, 6).selectExpr("id AS k"), tbl, mode="append")
    assert create_checkpoint(tbl) == 1
    write_delta(spark.range(6, 9).selectExpr("id AS k"), tbl, mode="append")
    # protect everything below the CURRENT version (3 after this commit)
    alter_properties(
        spark, tbl,
        set_props={
            "delta.feature.checkpointProtection": "supported",
            "delta.requireCheckpointProtectionBeforeVersion": "3",
        },
    )
    snap = DeltaTable(tbl).snapshot
    assert "checkpointProtection" in snap.writer_features
    # boundary (checkpoint v1) < protected version 3 -> nothing reaped
    assert cleanup_log(tbl, retention_ms=0) == []
    log = _os.path.join(tbl, "_delta_log")
    assert _os.path.exists(_os.path.join(log, f"{0:020d}.json"))
    # dropping the feature while the property is set refuses
    with pytest.raises(ValueError, match="requireCheckpointProtection"):
        drop_feature(tbl, "checkpointProtection", truncate_history=True)
    # a checkpoint at/above the protected version unlocks cleanup
    cv = create_checkpoint(tbl)
    assert cv >= 3
    gone = cleanup_log(tbl, retention_ms=0)
    assert gone and all(int(g.split(".")[0]) < cv for g in gone)
    assert read_delta(spark, tbl).count() == 9
    # with the property unset, the feature itself can be dropped
    alter_properties(
        spark, tbl,
        unset_keys=["delta.requireCheckpointProtectionBeforeVersion"],
    )
    drop_feature(tbl, "checkpointProtection", truncate_history=True)
    after = DeltaTable(tbl).snapshot
    assert "checkpointProtection" not in after.writer_features
    assert read_delta(spark, tbl).count() == 9


def test_checkpoint_protection_is_all_or_nothing_below_boundary(
    spark, tmp_path,
):
    """Even with the checkpoint boundary above the protected version, an
    age filter that keeps PART of the protected range must delete
    nothing — a split cleanup would land the post-cleanup truncation
    boundary below the protected version."""
    import json as _json
    import os as _os

    from ballista_delta_spark.sources.delta import (
        alter_properties,
        cleanup_log,
        create_checkpoint,
    )

    tbl = str(tmp_path / "t")
    write_delta(spark.range(2).selectExpr("id AS k"), tbl)
    write_delta(spark.range(2, 4).selectExpr("id AS k"), tbl, mode="append")
    write_delta(spark.range(4, 6).selectExpr("id AS k"), tbl, mode="append")
    alter_properties(
        spark, tbl,
        set_props={
            "delta.feature.checkpointProtection": "supported",
            "delta.requireCheckpointProtectionBeforeVersion": "2",
        },
    )
    cv = create_checkpoint(tbl)
    assert cv >= 2
    # age v0 artificially: rewrite its commitInfo timestamp 100 days back
    log = _os.path.join(tbl, "_delta_log")
    v0 = _os.path.join(log, f"{0:020d}.json")
    lines = open(v0).read().splitlines()
    out = []
    for ln in lines:
        act = _json.loads(ln)
        if "commitInfo" in act:
            act["commitInfo"]["timestamp"] -= 100 * 24 * 3600 * 1000
            act["commitInfo"].pop("inCommitTimestamp", None)
        out.append(_json.dumps(act))
    open(v0, "w").write("\n".join(out) + "\n")
    # 30-day retention: v0 is eligible but v1 (< protected version 2)
    # survives -> the protected range would split -> nothing deleted
    assert cleanup_log(tbl, retention_ms=30 * 24 * 3600 * 1000) == []
    assert _os.path.exists(v0)
    # zero retention: the WHOLE protected prefix is eligible -> cleans
    gone = cleanup_log(tbl, retention_ms=0)
    assert any(g.startswith(f"{0:020d}") for g in gone)
    assert any(g.startswith(f"{1:020d}") for g in gone)


def test_file_stats_keep_bounds_past_all_null_row_groups(tmp_path):
    """An ALL-NULL row-group chunk has no min/max but contributes no
    values — the other groups' bounds remain sound whole-file claims and
    must not be poisoned (that would cost data skipping on every sparse
    column)."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from ballista_delta_spark.sources.delta import _file_stats

    p = str(tmp_path / "f.parquet")
    schema = pa.schema([("n", pa.int64())])
    with pq.ParquetWriter(p, schema) as w:
        w.write_table(pa.table({"n": pa.array([1, 4], pa.int64())}))
        w.write_table(pa.table({"n": pa.array([None, None], pa.int64())}))
    st = _json.loads(_file_stats(p, [T.StructField("n", T.LongType())]))
    assert st["numRecords"] == 4
    assert st["minValues"]["n"] == 1 and st["maxValues"]["n"] == 4
    assert st["nullCount"]["n"] == 2
