"""Delta DML (DELETE / UPDATE / MERGE) — copy-on-write semantics.

The reference has no working write path at all (its insert factory errors,
reference src/lib.rs:140-174; tests/local.rs:100-103), so these pin OUR
contract: SQL three-valued logic, metadata-only full-file deletes,
pre-update-row SET semantics, merge ambiguity detection, and commit
atomicity (a failed DML leaves no trace — no version, no orphan files).
"""

import os

import pytest
from pyspark.sql import functions as F

from ballista_delta_spark.sources.delta import DeltaTable, read_delta, write_delta
from ballista_delta_spark.sources.delta_dml import (
    delete_delta,
    merge_delta,
    update_delta,
)


@pytest.fixture()
def nation_tbl(spark, sf_dir, tmp_path):
    p = str(tmp_path / "nation_dml")
    write_delta(spark.read.parquet(os.path.join(sf_dir, "nation.parquet")), p)
    return p


@pytest.fixture()
def orders_tbl(spark, sf_dir, tmp_path):
    p = str(tmp_path / "orders_dml")
    write_delta(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet")),
        p,
        partition_by=["o_orderstatus"],
    )
    return p


def _table_files(path):
    out = []
    for root, _dirs, names in os.walk(path):
        if "_delta_log" in root:
            continue
        out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    return out


class TestDelete:
    def test_partition_aligned_delete_is_metadata_only(self, spark, orders_tbl):
        before = read_delta(spark, orders_tbl).count()
        f_rows = read_delta(spark, orders_tbl).filter("o_orderstatus = 'F'").count()
        m = delete_delta(spark, orders_tbl, "o_orderstatus = 'F'")
        # Every matched file lived entirely inside the F partition: all are
        # dropped by remove actions alone, nothing is rewritten.
        assert m["numFullFilesRemoved"] == m["numRemovedFiles"] > 0
        assert m["numAddedFiles"] == 0
        assert m["numDeletedRows"] == f_rows
        assert read_delta(spark, orders_tbl).count() == before - f_rows

    def test_partial_delete_rewrites_only_matching_files(self, spark, nation_tbl):
        m = delete_delta(spark, nation_tbl, "n_regionkey = 2")
        assert m["numDeletedRows"] == 5
        assert m["numAddedFiles"] >= 1
        back = read_delta(spark, nation_tbl)
        assert back.filter("n_regionkey = 2").count() == 0
        assert back.count() == 20

    def test_null_condition_rows_are_kept(self, spark, tmp_path):
        p = str(tmp_path / "nulls")
        write_delta(
            spark.createDataFrame(
                [(1, 10.0), (2, None), (3, 3.0)], "id int, v double"
            ),
            p,
        )
        m = delete_delta(spark, p, "v > 5")  # NULL > 5 is NULL -> keep
        assert m["numDeletedRows"] == 1
        assert sorted(r.id for r in read_delta(spark, p).collect()) == [2, 3]

    def test_no_match_is_noop(self, spark, nation_tbl):
        v0 = DeltaTable(nation_tbl).version
        m = delete_delta(spark, nation_tbl, "n_regionkey = 999")
        assert m["numDeletedRows"] == 0
        assert DeltaTable(nation_tbl).version == v0

    def test_time_travel_sees_pre_delete_state(self, spark, nation_tbl):
        delete_delta(spark, nation_tbl, "n_regionkey = 0")
        assert read_delta(spark, nation_tbl).count() == 20
        assert read_delta(spark, nation_tbl, version=0).count() == 25


class TestUpdate:
    def test_set_sees_pre_update_row(self, spark, tmp_path):
        p = str(tmp_path / "swap")
        write_delta(
            spark.createDataFrame([(1, 2), (10, 20)], "a int, b int"), p
        )
        update_delta(spark, p, "a = 1", {"a": "b", "b": "a"})
        rows = {(r.a, r.b) for r in read_delta(spark, p).collect()}
        assert rows == {(2, 1), (10, 20)}  # swapped, not a=b=2

    def test_partition_column_update_rebuckets(self, spark, orders_tbl):
        m = update_delta(
            spark, orders_tbl, "o_orderstatus = 'P'", {"o_orderstatus": "'X'"}
        )
        assert m["repartitionedByUpdate"] is True
        back = read_delta(spark, orders_tbl)
        assert back.filter("o_orderstatus = 'P'").count() == 0
        assert back.filter("o_orderstatus = 'X'").count() == m["numUpdatedRows"]
        # The rewritten rows physically live in the new Hive directory.
        assert any("o_orderstatus=X" in f for f in _table_files(orders_tbl))

    def test_unknown_set_target_raises(self, spark, nation_tbl):
        with pytest.raises(ValueError, match="not in table schema"):
            update_delta(spark, nation_tbl, "true", {"nope": "1"})

    def test_set_cast_back_to_declared_type(self, spark, nation_tbl):
        update_delta(
            spark, nation_tbl, "n_nationkey = 0", {"n_nationkey": "1000.7"}
        )
        f = {x.name: x.dataType.simpleString() for x in DeltaTable(nation_tbl).schema.fields}
        assert f["n_nationkey"] == "int"
        assert read_delta(spark, nation_tbl).filter("n_nationkey = 1000").count() == 1


class TestMerge:
    def test_update_and_insert_branches(self, spark, nation_tbl):
        src = spark.createDataFrame(
            [(1, "ONE"), (50, "NEW50")], "n_nationkey int, new_name string"
        )
        m = merge_delta(
            spark, nation_tbl, src, "t.n_nationkey = s.n_nationkey",
            matched_update={"n_name": "s.new_name"},
            not_matched_insert={
                "n_nationkey": "s.n_nationkey",
                "n_name": "s.new_name",
                "n_regionkey": "9",
            },
        )
        assert m["numTargetRowsUpdated"] == 1
        assert m["numTargetRowsInserted"] == 1
        back = {r.n_nationkey: r.n_name for r in read_delta(spark, nation_tbl).collect()}
        assert back[1] == "ONE" and back[50] == "NEW50"
        assert len(back) == 26

    def test_delete_branch(self, spark, nation_tbl):
        src = spark.createDataFrame([(3,), (4,)], "n_nationkey int")
        m = merge_delta(
            spark, nation_tbl, src, "t.n_nationkey = s.n_nationkey",
            matched_delete=True, not_matched_insert=False,
        )
        assert m["numTargetRowsDeleted"] == 2
        assert read_delta(spark, nation_tbl).filter(
            "n_nationkey in (3, 4)"
        ).count() == 0

    def test_ambiguous_multi_match_raises_and_commits_nothing(
        self, spark, nation_tbl
    ):
        v0 = DeltaTable(nation_tbl).version
        files0 = sorted(_table_files(nation_tbl))
        src = spark.createDataFrame(
            [(1, "A"), (1, "B")], "n_nationkey int, new_name string"
        )
        with pytest.raises(ValueError, match="ambiguous"):
            merge_delta(
                spark, nation_tbl, src, "t.n_nationkey = s.n_nationkey",
                matched_update={"n_name": "s.new_name"}, not_matched_insert=False,
            )
        assert DeltaTable(nation_tbl).version == v0
        assert sorted(_table_files(nation_tbl)) == files0  # no orphans

    def test_identical_duplicate_target_rows_survive(self, spark, tmp_path):
        # Two byte-identical target rows are NOT an ambiguity (one source row
        # matching both is Delta-legal); multiplicity must be preserved.
        p = str(tmp_path / "dupes")
        write_delta(
            spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "k int, v string"),
            p,
        )
        src = spark.createDataFrame([(1, "upd")], "k int, nv string")
        m = merge_delta(
            spark, p, src, "t.k = s.k",
            matched_update={"v": "s.nv"}, not_matched_insert=False,
        )
        assert m["numTargetRowsUpdated"] == 2
        rows = sorted((r.k, r.v) for r in read_delta(spark, p).collect())
        assert rows == [(1, "upd"), (1, "upd"), (2, "y")]

    def test_insert_true_requires_full_source_schema(self, spark, nation_tbl):
        src = spark.createDataFrame([(99,)], "n_nationkey int")
        with pytest.raises(ValueError, match="source lacks"):
            merge_delta(
                spark, nation_tbl, src, "t.n_nationkey = s.n_nationkey",
                not_matched_insert=True,
            )

    def test_partitioned_insert_lands_in_hive_dir(self, spark, orders_tbl):
        src = spark.createDataFrame(
            [(10_000_001, 7, "Z", 1.5, None, "1-URGENT")],
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        )
        m = merge_delta(
            spark, orders_tbl, src, "t.o_orderkey = s.o_orderkey",
            not_matched_insert=True,
        )
        assert m["numTargetRowsInserted"] == 1
        assert any("o_orderstatus=Z" in f for f in _table_files(orders_tbl))
        assert read_delta(spark, orders_tbl).filter(
            "o_orderstatus = 'Z'"
        ).count() == 1


class TestConcurrency:
    def test_losing_dml_retries_against_fresh_snapshot(
        self, spark, nation_tbl, monkeypatch
    ):
        """Simulate a concurrent writer landing a commit between a DML's
        snapshot read and its commit: with retries=1 the DML must re-execute
        against the NEW snapshot and both effects must survive."""
        from ballista_delta_spark.sources import delta as d
        from ballista_delta_spark.sources import delta_dml as dml

        real_commit = d._try_commit
        state = {"raced": False}

        def racing_commit(path, actions, staged_adds, **kw):
            if not state["raced"]:
                state["raced"] = True
                # The "other writer": deletes region 4, claiming the version
                # this DML was about to take.
                dml.delete_delta(spark, nation_tbl, "n_regionkey = 4")
                # Clean up our own staged files as the real loser would,
                # then surface the conflict.
                for a in staged_adds:
                    try:
                        os.unlink(os.path.join(path, a["path"]))
                    except OSError:
                        pass
                raise RuntimeError("concurrent commit at version 1")
            return real_commit(path, actions, staged_adds, **kw)

        monkeypatch.setattr(dml, "_try_commit", racing_commit)
        m = dml.update_delta(
            spark, nation_tbl, "n_regionkey = 0",
            {"n_name": "concat(n_name, '_U')"}, retries=1,
        )
        assert m["numUpdatedRows"] == 5
        back = read_delta(spark, nation_tbl)
        assert back.filter("n_regionkey = 4").count() == 0  # racer's delete
        assert back.filter("n_name LIKE '%\\_U'").count() == 5  # our update
        assert back.count() == 20

    def test_no_retry_by_default(self, spark, nation_tbl, monkeypatch):
        from ballista_delta_spark.sources import delta_dml as dml

        def always_lose(path, actions, staged_adds, **kw):
            raise RuntimeError("concurrent commit at version 1")

        monkeypatch.setattr(dml, "_try_commit", always_lose)
        with pytest.raises(RuntimeError, match="concurrent commit"):
            dml.delete_delta(spark, nation_tbl, "n_regionkey = 1")


# ---------------------------------------------------------------------------
# Conditional MERGE clauses (round-4 punch list #3): WHEN MATCHED AND <cond>,
# multiple clauses in order, first match wins — delta-spark semantics.
class TestConditionalMerge:
    def _table(self, spark, tmp_path, name="t"):
        tbl = str(tmp_path / name)
        write_delta(
            spark.createDataFrame(
                [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
                "id int, name string, v double",
            ),
            tbl,
        )
        return tbl

    def test_update_if_delete_if_clause_order(self, spark, tmp_path):
        tbl = self._table(spark, tmp_path)
        src = spark.createDataFrame(
            [(1, 5.0), (2, 500.0), (3, 7.0)], "id int, nv double"
        )
        m = merge_delta(
            spark, tbl, src, "t.id = s.id",
            matched_clauses=[
                ("s.nv > 100", "delete", None),
                ("s.nv < 10", "update", {"v": "s.nv"}),
            ],
            not_matched_clauses=[],
        )
        assert m["numTargetRowsDeleted"] == 1   # id=2 (nv 500)
        assert m["numTargetRowsUpdated"] == 2   # ids 1, 3
        rows = {
            r["id"]: (r["name"], r["v"])
            for r in read_delta(spark, tbl).collect()
        }
        assert rows == {1: ("a", 5.0), 3: ("c", 7.0), 4: ("d", 40.0)}

    def test_first_match_wins_and_unqualified_row_kept(self, spark, tmp_path):
        tbl = self._table(spark, tmp_path)
        src = spark.createDataFrame(
            [(1, 1.0), (2, 2.0), (3, 1000.0)], "id int, nv double"
        )
        # Both clauses' conditions hold for ids 1,2 -> FIRST clause applies.
        # id=3 fails both conditions -> row untouched.
        m = merge_delta(
            spark, tbl, src, "t.id = s.id",
            matched_clauses=[
                ("s.nv <= 2", "update", {"name": "'low'"}),
                ("s.nv <= 2", "update", {"name": "'never'"}),
            ],
            not_matched_clauses=[],
        )
        assert m["numTargetRowsUpdated"] == 2
        rows = {r["id"]: r["name"] for r in read_delta(spark, tbl).collect()}
        assert rows == {1: "low", 2: "low", 3: "c", 4: "d"}

    def test_conditional_insert_clauses(self, spark, tmp_path):
        tbl = self._table(spark, tmp_path)
        src = spark.createDataFrame(
            [(8, "hi", 80.0), (9, "lo", 1.0), (10, "skip", -1.0)],
            "id int, name string, v double",
        )
        m = merge_delta(
            spark, tbl, src, "t.id = s.id",
            matched_clauses=[],
            not_matched_clauses=[
                ("s.v >= 50", {"id": "s.id", "name": "upper(s.name)", "v": "s.v"}),
                ("s.v > 0", True),
            ],
        )
        assert m["numTargetRowsInserted"] == 2  # -1.0 row qualifies nowhere
        rows = {r["id"]: r["name"] for r in read_delta(spark, tbl).collect()}
        assert rows[8] == "HI" and rows[9] == "lo" and 10 not in rows

    def test_all_conditional_clauses_narrow_file_rewrite(self, spark, tmp_path):
        """Two single-row-group files; matches in one file all fail the
        clause condition -> that file must NOT be rewritten."""
        tbl = str(tmp_path / "narrow")
        write_delta(
            spark.createDataFrame(
                [(1, 1.0), (2, 2.0)], "id int, v double"
            ).coalesce(1),
            tbl,
        )
        write_delta(
            spark.createDataFrame(
                [(3, 3.0), (4, 4.0)], "id int, v double"
            ).coalesce(1),
            tbl, mode="append",
        )
        files_before = set(DeltaTable(tbl).snapshot.files)
        assert len(files_before) == 2
        src = spark.createDataFrame([(1, 100.0), (3, 0.0)], "id int, nv double")
        m = merge_delta(
            spark, tbl, src, "t.id = s.id",
            matched_clauses=[("s.nv > 50", "update", {"v": "s.nv"})],
            not_matched_clauses=[],
        )
        assert m["numTargetRowsUpdated"] == 1
        snap = DeltaTable(tbl).snapshot
        # The file holding ids 3,4 (its only match fails the condition)
        # survives; the file holding ids 1,2 was rewritten.
        assert len(files_before & set(snap.files)) == 1
        rows = {r["id"]: r["v"] for r in read_delta(spark, tbl).collect()}
        assert rows == {1: 100.0, 2: 2.0, 3: 3.0, 4: 4.0}

    def test_sql_conditional_merge(self, spark, tmp_path):
        from ballista_delta_spark.session import sql

        tbl = self._table(spark, tmp_path, "sqlcond")
        sql(spark, f"CREATE EXTERNAL TABLE mrgc STORED AS DELTA LOCATION '{tbl}'")
        out = sql(spark, """
            MERGE INTO mrgc AS tgt
            USING (SELECT * FROM VALUES (1, 0.5), (2, 999.0), (7, 70.0)
                   AS s(id, nv)) AS src
            ON tgt.id = src.id
            WHEN MATCHED AND src.nv > 100 THEN DELETE
            WHEN MATCHED AND src.nv < 1 THEN UPDATE SET tgt.v = src.nv
            WHEN NOT MATCHED AND src.nv > 50 THEN
                INSERT (id, name, v) VALUES (src.id, 'new', src.nv)
        """).collect()[0]
        assert out["numTargetRowsDeleted"] == 1
        assert out["numTargetRowsUpdated"] == 1
        assert out["numTargetRowsInserted"] == 1
        rows = {r["id"]: r["v"] for r in read_delta(spark, tbl).collect()}
        assert rows == {1: 0.5, 3: 30.0, 4: 40.0, 7: 70.0}

    def test_ambiguous_multi_match_still_raises(self, spark, tmp_path):
        tbl = self._table(spark, tmp_path, "amb")
        src = spark.createDataFrame(
            [(1, 1.0), (1, 2.0)], "id int, nv double"
        )
        with pytest.raises(ValueError, match="ambiguous"):
            merge_delta(
                spark, tbl, src, "t.id = s.id",
                matched_clauses=[("s.nv > 0", "update", {"v": "s.nv"})],
                not_matched_clauses=[],
            )


def test_dv_dml_on_empty_table_noops(spark, tmp_path):
    """mode='dv' DML on a zero-file table must behave like cow: no crash,
    inserts still land (review finding)."""
    from ballista_delta_spark.sources.delta import read_delta, write_delta
    from ballista_delta_spark.sources.delta_dml import (
        delete_delta,
        merge_delta,
        update_delta,
    )

    tbl = str(tmp_path / "empty_dv")
    write_delta(
        spark.createDataFrame([], "id long, v long"), tbl, mode="overwrite"
    )
    assert delete_delta(spark, tbl, "id = 1", mode="dv")[
        "numDeletedRows"
    ] == 0
    assert update_delta(spark, tbl, "id = 1", {"v": "v + 1"}, mode="dv")[
        "numUpdatedRows"
    ] == 0
    m = merge_delta(
        spark, tbl,
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"),
        "t.id = s.id",
        matched_update={"v": "s.v"},
        not_matched_insert=True,
        mode="dv",
    )
    assert m["numTargetRowsInserted"] == 2
    assert read_delta(spark, tbl).count() == 2


def test_merge_insert_map_unknown_key_refused(spark, tmp_path):
    from ballista_delta_spark.sources.delta import write_delta
    from ballista_delta_spark.sources.delta_dml import merge_delta

    tbl = str(tmp_path / "badmap")
    write_delta(
        spark.createDataFrame([(1, 10)], "id long, v long"), tbl
    )
    src = spark.createDataFrame([(2, 20)], "id long, v long")
    with pytest.raises(ValueError, match="unknown column"):
        merge_delta(
            spark, tbl, src, "t.id = s.id",
            not_matched_insert={"id": "s.id", "valu": "s.v"},
        )


def test_dv_merge_zero_clause_matches_is_noop(spark, tmp_path):
    """All matches fail every conditional clause and there are no inserts:
    no version must be committed (review finding: a 0-row part-file was
    staged and committed)."""
    from ballista_delta_spark.sources.delta import DeltaTable, write_delta
    from ballista_delta_spark.sources.delta_dml import merge_delta

    tbl = str(tmp_path / "zero_dv")
    write_delta(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"), tbl
    )
    v_before = DeltaTable(tbl).snapshot.version
    m = merge_delta(
        spark, tbl,
        spark.createDataFrame([(1, 99)], "id long, v long"),
        "t.id = s.id",
        matched_clauses=[("s.v < 0", "update", {"v": "s.v"})],
        mode="dv",
    )
    assert m["numTargetRowsUpdated"] == 0
    assert DeltaTable(tbl).snapshot.version == v_before  # no commit


def test_cow_merge_on_map_column_matches_dv(spark, tmp_path):
    """Copy-on-write MERGE keys target rows by physical identity (file,
    row index), never by value, so a map column (which Spark can neither
    group nor compare) merges like any other: updates and inserts land,
    untouched rows keep their maps, and the result equals mode="dv"."""
    from ballista_delta_spark.sources.delta import read_delta, write_delta
    from ballista_delta_spark.sources.delta_dml import merge_delta

    out = {}
    for mode in ("cow", "dv"):
        tbl = str(tmp_path / f"maps_{mode}")
        write_delta(
            spark.sql("SELECT id, map('k', id) AS m FROM range(5)"), tbl
        )
        src = spark.sql("SELECT id, map('k', id * 10) AS m FROM range(3, 7)")
        m = merge_delta(
            spark, tbl, src, "t.id = s.id", matched_update={"m": "s.m"},
            not_matched_insert=True, mode=mode,
        )
        assert m["numTargetRowsUpdated"] == 2
        assert m["numTargetRowsInserted"] == 2
        out[mode] = sorted(
            (r["id"], r["m"]) for r in read_delta(spark, tbl).collect()
        )
    assert out["cow"] == [
        (0, {"k": 0}), (1, {"k": 1}), (2, {"k": 2}), (3, {"k": 30}),
        (4, {"k": 40}), (5, {"k": 50}), (6, {"k": 60}),
    ]
    assert out["cow"] == out["dv"]


# ------------------------------------------------------- replaceWhere
def test_replace_where_partition_aligned_is_metadata_only(spark, tmp_path):
    """A partition-aligned replaceWhere removes the slice's files whole
    (zero rewrites) and lands the recomputed slice in one commit — the
    idempotent backfill primitive."""
    from ballista_delta_spark.sources.delta_dml import replace_where_delta

    tbl = str(tmp_path / "t")
    write_delta(
        spark.range(20).selectExpr("id", "CAST(id % 2 AS INT) AS p"),
        tbl, partition_by=["p"],
    )
    recomputed = spark.range(100, 105).selectExpr(
        "id", "CAST(1 AS INT) AS p"
    )
    res = replace_where_delta(spark, tbl, recomputed, "p = 1")
    assert res["numDeletedRows"] == 10
    assert res["numFullFilesRemoved"] == res["numRemovedFiles"]  # no rewrite
    got = sorted(r.id for r in read_delta(spark, tbl).collect())
    assert got == sorted(list(range(0, 20, 2)) + list(range(100, 105)))
    # time travel: the pre-replace slice is still at v0
    assert read_delta(spark, tbl, version=0).count() == 20


def test_replace_where_arbitrary_predicate_rewrites_partials(spark, tmp_path):
    from ballista_delta_spark.sources.delta_dml import replace_where_delta

    tbl = str(tmp_path / "t")
    write_delta(spark.range(10).selectExpr("id", "id * 2 AS v").coalesce(1), tbl)
    recomputed = spark.range(5, 10).selectExpr("id", "id * 100 AS v")
    res = replace_where_delta(spark, tbl, recomputed, "id >= 5")
    assert res["numDeletedRows"] == 5
    got = {r.id: r.v for r in read_delta(spark, tbl).collect()}
    assert got == {**{i: i * 2 for i in range(5)},
                   **{i: i * 100 for i in range(5, 10)}}


def test_replace_where_strict_containment_and_write_delta_route(
    spark, tmp_path
):
    from ballista_delta_spark.sources.delta_dml import replace_where_delta

    tbl = str(tmp_path / "t")
    write_delta(spark.range(10).selectExpr("id", "id * 2 AS v"), tbl)
    leaking = spark.range(3, 8).selectExpr("id", "id AS v")
    with pytest.raises(ValueError, match="leak outside its slice"):
        replace_where_delta(spark, tbl, leaking, "id >= 5")
    with pytest.raises(ValueError, match="schema mismatch"):
        replace_where_delta(
            spark, tbl, spark.range(5, 6).selectExpr("id"), "id >= 5"
        )
    # the write_delta(replace_where=) route commits the same thing
    v = write_delta(
        spark.range(5, 10).selectExpr("id", "id AS v"), tbl,
        mode="overwrite", replace_where="id >= 5",
    )
    assert v == 1
    assert read_delta(spark, tbl).count() == 10
    with pytest.raises(ValueError, match="requires mode"):
        write_delta(
            spark.range(1).selectExpr("id", "id AS v"), tbl,
            replace_where="id >= 5",
        )


def test_replace_where_cdf_records_delete_and_insert(spark, tmp_path):
    from ballista_delta_spark.sources.delta import (
        alter_properties,
        read_delta_changes,
    )
    from ballista_delta_spark.sources.delta_dml import replace_where_delta

    tbl = str(tmp_path / "t")
    write_delta(spark.range(6).selectExpr("id", "id * 2 AS v"), tbl)
    alter_properties(spark, tbl, {"delta.enableChangeDataFeed": "true"})
    res = replace_where_delta(
        spark, tbl,
        spark.range(3, 6).selectExpr("id", "id * 9 AS v"),
        "id >= 3",
    )
    ch = read_delta_changes(spark, tbl, from_version=res["version"] - 1)
    kinds = {
        (r.id, r._change_type) for r in ch.select("id", "_change_type").collect()
    }
    assert kinds == (
        {(i, "delete") for i in (3, 4, 5)}
        | {(i, "insert") for i in (3, 4, 5)}
    )


def test_replace_where_sql_route(spark, tmp_path):
    """INSERT INTO t REPLACE WHERE pred SELECT ... — the delta-spark SQL
    form, routed through the session's DDL dispatcher."""
    from ballista_delta_spark.session import sql as bd_sql

    tbl = str(tmp_path / "t")
    write_delta(
        spark.range(10).selectExpr("id", "CAST(id % 2 AS INT) AS p"),
        tbl, partition_by=["p"],
    )
    bd_sql(spark, f"CREATE EXTERNAL TABLE rw STORED AS DELTA LOCATION '{tbl}'")
    v = bd_sql(
        spark,
        "INSERT INTO rw REPLACE WHERE p = 1 "
        "SELECT id, CAST(1 AS INT) AS p FROM range(100, 103)",
    ).collect()[0][0]
    assert v == 1
    got = sorted(r.id for r in spark.table("rw").collect())
    assert got == sorted(list(range(0, 10, 2)) + [100, 101, 102])
    # plain INSERT still routes as an append
    bd_sql(spark, "INSERT INTO rw VALUES (7, 1)")
    assert spark.table("rw").count() == 9


def test_merge_multimatch_noop_rows_are_not_ambiguous(spark, tmp_path):
    """delta-spark's MERGE cardinality rule (r10 review fix): a target row
    matched by multiple source rows is ambiguous only when MORE THAN ONE
    match would MODIFY it — matches failing every conditional clause are
    no-ops. Covers cow and dv paths, and the mixed applying+no-op case
    that must not duplicate the row in the rewrite."""
    from ballista_delta_spark.sources.delta import read_delta, write_delta
    from ballista_delta_spark.sources.delta_dml import merge_delta

    for mode in ("cow", "dv"):
        tbl = str(tmp_path / f"m_{mode}")
        write_delta(
            spark.createDataFrame(
                [(1, 10), (2, 20), (3, 30)], "id long, v long"
            ),
            tbl,
        )
        # id=1 matched twice, NEITHER match applies (do_update false) ->
        # no-op, not an error. id=2 matched twice, ONE applies -> that
        # one wins deterministically. id=3 untouched.
        src = spark.createDataFrame(
            [
                (1, 111, False), (1, 112, False),
                (2, 221, True), (2, 222, False),
            ],
            "id long, nv long, do_update boolean",
        )
        m = merge_delta(
            spark, tbl, src, on="t.id = s.id",
            matched_clauses=[("s.do_update = true", "update", {"v": "s.nv"})],
            not_matched_insert=False,
            mode=mode,
        )
        assert m["numTargetRowsUpdated"] == 1, (mode, m)
        got = {r.id: r.v for r in read_delta(spark, tbl).collect()}
        assert got == {1: 10, 2: 221, 3: 30}, (mode, got)

        # two APPLYING matches on one row still raise
        import pytest as _pt

        bad = spark.createDataFrame(
            [(3, 331, True), (3, 332, True)],
            "id long, nv long, do_update boolean",
        )
        with _pt.raises(ValueError, match="ambiguous"):
            merge_delta(
                spark, tbl, bad, on="t.id = s.id",
                matched_clauses=[
                    ("s.do_update = true", "update", {"v": "s.nv"})
                ],
                not_matched_insert=False,
                mode=mode,
            )


def test_replace_where_refuses_generated_always_identity(spark, tmp_path):
    """replaceWhere was the one DML path accepting explicit GENERATED
    ALWAYS identity values (r10 review fix): its strict schema check
    forces the caller to supply the column, which the identity contract
    prohibits — and silently skipping the high-water mark would enable
    future duplicate ids."""
    import json

    from ballista_delta_spark.sources.delta import write_delta
    from ballista_delta_spark.sources.delta_dml import replace_where_delta
    from tests.test_constraints import _patch_log0

    tbl = str(tmp_path / "rw_ident")
    write_delta(
        spark.createDataFrame([(100, 1, "a")], "uid long, p long, s string"),
        tbl,
    )
    _patch_log0(
        tbl,
        protocol={"minReaderVersion": 1, "minWriterVersion": 6},
        field_meta={"uid": {
            "delta.identity.start": 100,
            "delta.identity.step": 10,
            "delta.identity.highWaterMark": 100,
        }},
    )
    with pytest.raises(ValueError, match="GENERATED ALWAYS identity"):
        replace_where_delta(
            spark, tbl,
            spark.createDataFrame(
                [(5000, 1, "x")], "uid long, p long, s string"
            ),
            "p = 1",
        )


# -------------------------------------------- WHEN NOT MATCHED BY SOURCE
def test_merge_not_matched_by_source_full_matrix(spark, tmp_path):
    """delta-spark's WHEN NOT MATCHED BY SOURCE (target rows with no
    source match): ordered conditional update/delete clauses compose
    with matched updates and inserts in one commit (r11)."""
    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30), (4, 40)], "id long, v long"
        ),
        tbl,
    )
    src = spark.createDataFrame([(2, 222), (5, 555)], "id long, v long")
    m = merge_delta(
        spark, tbl, src, "t.id = s.id",
        matched_clauses=[(None, "update", {"v": "s.v"})],
        not_matched_clauses=[(None, True)],
        not_matched_by_source_clauses=[
            ("t.id = 3", "delete", None),           # first-match-wins
            (None, "update", {"v": "t.v + 1000"}),  # remaining unmatched
        ],
    )
    assert m["numTargetRowsUpdated"] == 3   # 1 matched + 2 by-source
    assert m["numTargetRowsDeleted"] == 1
    assert m["numTargetRowsInserted"] == 1
    rows = sorted((r.id, r.v) for r in read_delta(spark, tbl).collect())
    assert rows == [(1, 1010), (2, 222), (4, 1040), (5, 555)]


def test_merge_by_source_only_multimatch_not_duplicated(spark, tmp_path):
    """A by-source-only MERGE pulls files into the rewrite via an
    ANTI-join; matched rows in those files may carry several (no-op)
    matches and must come out exactly once."""
    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long").coalesce(1),
        tbl,
    )
    # id=1 matched by TWO source rows (no matched clause -> pure no-op);
    # id=2 unmatched -> deleted by the by-source clause.
    src = spark.createDataFrame([(1, 0), (1, 1)], "id long, x long")
    m = merge_delta(
        spark, tbl, src, "t.id = s.id", not_matched_insert=False,
        not_matched_by_source_clauses=[(None, "delete", None)],
    )
    assert m["numTargetRowsDeleted"] == 1
    rows = sorted((r.id, r.v) for r in read_delta(spark, tbl).collect())
    assert rows == [(1, 10)]  # exactly once, not duplicated


def test_merge_by_source_cdf_images(spark, tmp_path):
    from ballista_delta_spark.sources.delta import (
        alter_properties,
        read_delta_changes,
    )

    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id long, v long"),
        tbl,
    )
    alter_properties(spark, tbl, {"delta.enableChangeDataFeed": "true"})
    src = spark.createDataFrame([(1, 111)], "id long, v long")
    m = merge_delta(
        spark, tbl, src, "t.id = s.id", not_matched_insert=False,
        matched_clauses=[(None, "update", {"v": "s.v"})],
        not_matched_by_source_clauses=[
            ("t.id = 2", "update", {"v": "t.v * 10"}),
            (None, "delete", None),
        ],
    )
    # from_version is the EXCLUSIVE base snapshot (diff from..to)
    ch = read_delta_changes(spark, tbl, from_version=m["version"] - 1)
    kinds = {
        (r.id, r.v, r._change_type)
        for r in ch.select("id", "v", "_change_type").collect()
    }
    assert kinds == {
        (1, 10, "update_preimage"), (1, 111, "update_postimage"),
        (2, 20, "update_preimage"), (2, 200, "update_postimage"),
        (3, 30, "delete"),
    }
    rows = sorted((r.id, r.v) for r in read_delta(spark, tbl).collect())
    assert rows == [(1, 111), (2, 200)]


def test_merge_by_source_partitioned_and_guards(spark, tmp_path):
    """By-source clauses respect partition layouts and count as
    row-removing work for appendOnly tables."""
    from ballista_delta_spark.sources.delta import alter_properties

    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(1, 10, 0), (2, 20, 1), (3, 30, 0)], "id long, v long, p int"
        ),
        tbl, partition_by=["p"],
    )
    src = spark.createDataFrame([(1,)], "id long")
    m = merge_delta(
        spark, tbl, src, "t.id = s.id", not_matched_insert=False,
        not_matched_by_source_clauses=[(None, "delete", None)],
    )
    assert m["numTargetRowsDeleted"] == 2
    assert [(r.id, r.p) for r in read_delta(spark, tbl).collect()] == [(1, 0)]
    # appendOnly refuses by-source row removal
    tbl2 = str(tmp_path / "t2")
    write_delta(spark.createDataFrame([(1, 10)], "id long, v long"), tbl2)
    alter_properties(spark, tbl2, {"delta.appendOnly": "true"})
    with pytest.raises(ValueError, match="appendOnly|append-only"):
        merge_delta(
            spark, tbl2, src, "t.id = s.id", not_matched_insert=False,
            not_matched_by_source_clauses=[(None, "delete", None)],
        )


def test_merge_by_source_dv_mode(spark, tmp_path):
    """Merge-on-read BY SOURCE: unmatched pre-images die in deletion
    vectors (no data file rewritten), by-source updates append
    post-images, and matched + by-source DVs on the SAME file merge."""
    import glob as _glob

    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30), (4, 40)], "id long, v long"
        ).coalesce(1),
        tbl,
    )
    data_files = set(_glob.glob(os.path.join(tbl, "*.parquet")))
    src = spark.createDataFrame([(1, 111), (9, 999)], "id long, v long")
    m = merge_delta(
        spark, tbl, src, "t.id = s.id", mode="dv",
        matched_clauses=[(None, "update", {"v": "s.v"})],
        not_matched_clauses=[(None, True)],
        not_matched_by_source_clauses=[
            ("t.id = 2", "update", {"v": "t.v * 10"}),
            ("t.id = 3", "delete", None),
        ],
    )
    assert m["numTargetRowsUpdated"] == 2   # matched 1 + by-source 1
    assert m["numTargetRowsDeleted"] == 1
    assert m["numTargetRowsInserted"] == 1
    assert m["numDeletionVectorsAdded"] == 1  # one file carries all marks
    # original data file still present (merge-on-read)
    assert data_files <= set(_glob.glob(os.path.join(tbl, "*.parquet")))
    rows = sorted((r.id, r.v) for r in read_delta(spark, tbl).collect())
    assert rows == [(1, 111), (2, 200), (4, 40), (9, 999)]


# ------------------------------------------- MERGE plan shape and metrics
def _ranged_table(spark, path, files, rows_per_file):
    """``files`` one-file appends of ``id`` (and ``v`` = ``id``)."""
    for i in range(files):
        write_delta(
            spark.range(
                i * rows_per_file, (i + 1) * rows_per_file, 1, 1
            ).selectExpr("id", "id AS v"),
            path, mode="append",
        )


def test_cow_merge_update_insert_is_two_actions(spark, tmp_path):
    """A copy-on-write UPDATE + INSERT MERGE is two Spark actions: one
    collect of the touched files, the ambiguity check and the per-clause
    counts, then one write of the rewritten file plus the inserted rows
    (their count observed on that write). On an 8-file table that is 6
    jobs: each action's source broadcast, the collect's shuffle stage and
    result, the anti-join's broadcast of the touched file, and the write.
    The (values, multiplicity) design ran 10."""
    tbl = str(tmp_path / "eight")
    _ranged_table(spark, tbl, 8, 2000)
    # 240 keys in the newest file, 60 new ones
    src = spark.range(15_760, 16_060, 1, 1).selectExpr("id", "-1L AS v")
    sc = spark.sparkContext
    sc.setJobGroup("cow-merge", "update + insert MERGE")
    try:
        m = merge_delta(
            spark, tbl, src, "t.id = s.id", matched_update={"v": "s.v"},
            not_matched_insert=True,
        )
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("cow-merge")
    assert len(jobs) == 6, f"expected 6 jobs, got {len(jobs)}"
    assert m["numTargetRowsUpdated"] == 240
    assert m["numTargetRowsInserted"] == 60
    # the rewrite and the inserts share one output file
    assert (m["numRemovedFiles"], m["numAddedFiles"]) == (1, 1)
    got = read_delta(spark, tbl)
    assert got.count() == 16_060
    assert got.filter("v = -1").count() == 300


@pytest.mark.parametrize("mode", ["cow", "dv"])
def test_ambiguous_merge_stages_nothing(spark, tmp_path, mode):
    """The ambiguity check is part of the first action, before anything
    is written: an ambiguous MERGE with an insert clause leaves no file or
    staging directory behind in the table and commits nothing."""
    tbl = str(tmp_path / "amb")
    _ranged_table(spark, tbl, 2, 10)

    def listing():
        return sorted(
            os.path.join(root, n)
            for root, dirs, names in os.walk(tbl) for n in dirs + names
        )

    before, v0 = listing(), DeltaTable(tbl).version
    src = spark.createDataFrame(
        [(5, 1), (5, 2), (999, 3)], "id long, v long"
    )
    with pytest.raises(ValueError, match="ambiguous"):
        merge_delta(
            spark, tbl, src, "t.id = s.id", matched_update={"v": "s.v"},
            not_matched_insert=True, mode=mode,
        )
    assert listing() == before
    assert DeltaTable(tbl).version == v0


def _changes_seen(spark, tbl, v0):
    """What a fresh read shows a commit did: rows updated (value
    changed), deleted and inserted by ``id``; files removed and added."""
    before = {r.id: r.v for r in read_delta(spark, tbl, version=v0).collect()}
    after = {r.id: r.v for r in read_delta(spark, tbl).collect()}
    files0 = set(DeltaTable(tbl, version=v0).snapshot.files)
    files1 = set(DeltaTable(tbl).snapshot.files)
    return {
        "numTargetRowsUpdated": sum(
            before[k] != after[k] for k in before.keys() & after.keys()
        ),
        "numTargetRowsDeleted": len(before.keys() - after.keys()),
        "numTargetRowsInserted": len(after.keys() - before.keys()),
        "numRemovedFiles": len(files0 - files1),
        "numAddedFiles": len(files1 - files0),
    }


@pytest.mark.parametrize(
    "case", ["conditional", "by_source", "cdf", "constrained"]
)
def test_merge_commit_metrics_match_fresh_read(spark, tmp_path, case):
    """The MERGE commit's operationMetrics (rows updated, deleted and
    inserted, files removed and added) equal what a fresh read shows;
    with a CHECK constraint, whose check is the first action over the
    rows the MERGE writes, too."""
    from ballista_delta_spark.sources.delta import (
        alter_constraints,
        alter_properties,
        read_delta_changes,
    )

    tbl = str(tmp_path / case)
    _ranged_table(spark, tbl, 4, 10)
    # every SET changes its row's value, so a fresh read sees it
    src = spark.range(20, 60).selectExpr("id", "id * 100 + 7 AS v")
    kw: dict = {}
    if case == "by_source":
        src = src.filter("id < 30")
        kw = dict(
            matched_clauses=[(None, "update", {"v": "s.v"})],
            not_matched_clauses=[],
            not_matched_by_source_clauses=[
                ("t.id >= 15", "delete", None),
                ("t.id % 2 = 0", "update", {"v": "t.v + 1000"}),
            ],
        )
    else:
        # some matches take no clause: no-op matches beside applying ones
        kw = dict(
            matched_clauses=[
                ("s.id % 2 = 0", "update", {"v": "s.v"}),
                ("s.id % 3 = 0", "delete", None),
            ],
            not_matched_clauses=[("s.id % 5 != 0", True)],
        )
        if case == "cdf":
            alter_properties(
                spark, tbl, {"delta.enableChangeDataFeed": "true"}
            )
        if case == "constrained":
            alter_constraints(spark, tbl, add={"nonneg": "v >= 0"})
    v0 = DeltaTable(tbl).version
    merge_delta(spark, tbl, src, "t.id = s.id", **kw)
    commit = DeltaTable(tbl).history()[-1]
    assert commit["version"] == v0 + 1 and commit["operation"] == "MERGE"
    metrics = {k: int(v) for k, v in commit["operationMetrics"].items()}
    seen = _changes_seen(spark, tbl, v0)
    assert metrics == seen
    # every kind of change the clauses allow happened
    assert all(v for k, v in seen.items() if k != "numTargetRowsInserted")
    assert seen["numTargetRowsInserted"] or case == "by_source"
    if case == "cdf":
        kinds = {
            r["_change_type"]: r["count"]
            for r in read_delta_changes(spark, tbl, v0, v0 + 1)
            .groupBy("_change_type").count().collect()
        }
        assert kinds == {
            "update_preimage": seen["numTargetRowsUpdated"],
            "update_postimage": seen["numTargetRowsUpdated"],
            "delete": seen["numTargetRowsDeleted"],
            "insert": seen["numTargetRowsInserted"],
        }


def test_cow_update_counts_rows_in_the_touched_file_collect(spark, tmp_path):
    """Copy-on-write UPDATE takes its per-file updated-row counts from the
    touched-file collect, so it runs no separate count: 3 jobs on a
    2-file table (the collect's shuffle stage and result, and the
    rewrite's write) where a distinct() collect plus a count(), two jobs
    each under AQE, and the write ran 5."""
    tbl = str(tmp_path / "upd")
    _ranged_table(spark, tbl, 2, 1000)
    sc = spark.sparkContext
    sc.setJobGroup("cow-update", "UPDATE")
    try:
        m = update_delta(spark, tbl, "id % 10 = 0", {"v": "-v"})
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("cow-update")
    assert len(jobs) == 3, f"expected 3 jobs, got {len(jobs)}"
    assert (m["numUpdatedRows"], m["numRewrittenFiles"]) == (200, 2)
    assert read_delta(spark, tbl).filter("v < 0").count() == 199  # -0 = 0
