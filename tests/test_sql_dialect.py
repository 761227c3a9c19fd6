"""SQL dialect robustness (r10 review fixes): string literals must be
DATA to the statement router — keywords inside them can neither
mis-route, mis-split, nor be rewritten — plus alias-collision, comment,
qualified-name, and generic-type parsing edges."""

from __future__ import annotations

import pytest

from ballista_delta_spark.session import sql
from ballista_delta_spark.sources.delta import read_delta, write_delta


@pytest.fixture()
def view(spark, tmp_path):
    """A registered Delta view with a few rows."""
    loc = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "id long, s string, v long",
        ),
        loc,
    )
    name = f"dlt_{abs(hash(loc)) % 10**8}"
    sql(spark, f"CREATE EXTERNAL TABLE {name} STORED AS DELTA LOCATION '{loc}'")
    return name, loc


def test_update_set_literal_containing_where(spark, view):
    name, loc = view
    sql(spark, f"UPDATE {name} SET s = 'a where b' WHERE id = 1")
    got = {r.id: r.s for r in read_delta(spark, loc).collect()}
    assert got == {1: "a where b", 2: "b", 3: "c"}


def test_time_travel_keyword_inside_literal_is_data(spark, view):
    name, loc = view
    sql(spark, f"UPDATE {name} SET s = '{name} VERSION AS OF 2' WHERE id = 2")
    rows = sql(
        spark,
        f"SELECT id FROM {name} WHERE s = '{name} VERSION AS OF 2'",
    ).collect()
    assert [r.id for r in rows] == [2]


def test_merge_target_aliased_s_and_literal_with_alias_prefix(spark, view):
    """Crossed/colliding aliases: target aliased 's', source aliased 'x';
    and a VALUES literal containing 'x.' must not be rewritten."""
    name, loc = view
    sql(
        spark,
        f"MERGE INTO {name} AS s USING "
        "(SELECT 2 AS id, 222 AS nv UNION ALL SELECT 9, 999) AS x "
        "ON s.id = x.id "
        "WHEN MATCHED THEN UPDATE SET v = x.nv "
        "WHEN NOT MATCHED THEN INSERT (id, s, v) "
        "VALUES (x.id, 'x.example.com', x.nv)",
    )
    got = {r.id: (r.s, r.v) for r in read_delta(spark, loc).collect()}
    assert got[2][1] == 222          # only the matched row updated
    assert got[1][1] == 10 and got[3][1] == 30
    assert got[9] == ("x.example.com", 999)  # literal NOT rewritten


def test_merge_on_condition_with_when_inside_literal(spark, view):
    name, loc = view
    sql(
        spark,
        f"MERGE INTO {name} t USING (SELECT 1 AS id) u "
        "ON t.id = u.id AND t.s <> 'when matched' "
        "WHEN MATCHED THEN DELETE",
    )
    assert sorted(r.id for r in read_delta(spark, loc).collect()) == [2, 3]


def test_replace_where_literal_containing_select(spark, tmp_path):
    loc = str(tmp_path / "rw")
    write_delta(
        spark.createDataFrame(
            [("a SELECT b", 1), ("other", 2)], "note string, v long"
        ),
        loc,
    )
    name = f"rw_{abs(hash(loc)) % 10**8}"
    sql(spark, f"CREATE EXTERNAL TABLE {name} STORED AS DELTA LOCATION '{loc}'")
    sql(
        spark,
        f"INSERT INTO {name} REPLACE WHERE note = 'a SELECT b' "
        "SELECT 'a SELECT b' AS note, 111 AS v",
    )
    got = {r.note: r.v for r in read_delta(spark, loc).collect()}
    assert got == {"a SELECT b": 111, "other": 2}


def test_add_columns_generic_types_survive_commas(spark, view):
    name, loc = view
    sql(
        spark,
        f"ALTER TABLE {name} ADD COLUMNS "
        "(m MAP<string,int>, st STRUCT<a:int,b:string>)",
    )
    cols = {f.name: f.dataType.simpleString() for f in read_delta(spark, loc).schema.fields}
    assert cols["m"] == "map<string,int>"
    assert cols["st"] == "struct<a:int,b:string>"


def test_leading_comment_does_not_disable_interception(spark, view):
    name, loc = view
    sql(
        spark,
        f"-- nightly cleanup\nDELETE FROM {name} WHERE id = 3",
    )
    assert sorted(r.id for r in read_delta(spark, loc).collect()) == [1, 2]
    sql(spark, f"/* batch */ UPDATE {name} SET v = v + 1 WHERE id = 1")
    assert {r.id: r.v for r in read_delta(spark, loc).collect()}[1] == 11


def test_qualified_catalog_table_not_hijacked_by_view_tail(spark, view):
    """A real catalog table sharing its tail with a registered view must
    NOT have DML routed to the view's Delta files."""
    name, loc = view
    spark.sql(f"DROP TABLE IF EXISTS {name}_real")
    # a catalog table whose qualified name ends with the view's name
    # cannot exist (views are single-component), so exercise the guard
    # through tableExists directly: a qualified name that resolves in
    # the catalog must return None.
    spark.sql(f"CREATE TABLE {name}_real (id INT) USING parquet")
    try:
        from ballista_delta_spark.session import _delta_views, _resolve_view

        _delta_views[f"{name}_real"] = loc  # simulate the collision
        try:
            assert _resolve_view(f"{name}_real", spark) == f"{name}_real"
            # qualified name of the REAL table -> catalog wins
            assert _resolve_view(f"default.{name}_real", spark) is None
            # qualified name that does NOT exist -> tail fallback holds
            assert _resolve_view(f"nosuchdb.{name}_real", spark) == f"{name}_real"
        finally:
            _delta_views.pop(f"{name}_real", None)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}_real")


def test_update_literal_with_backslash_escaped_quote(spark, view):
    """Spark's default parser accepts 'O\\'Brien'; the literal mask must
    skip the escaped quote or the WHERE clause is swallowed into a
    phantom literal and the UPDATE silently hits every row (ADVICE r10)."""
    name, loc = view
    sql(spark, f"UPDATE {name} SET s = 'O\\'Brien where x' WHERE id = 1")
    got = {r.id: r.s for r in read_delta(spark, loc).collect()}
    assert got == {1: "O'Brien where x", 2: "b", 3: "c"}


def test_mask_literals_backslash_stays_in_sync():
    from ballista_delta_spark.session import _mask_literals

    stmt = "UPDATE t SET name = 'O\\'Brien' WHERE id = 1"
    masked = _mask_literals(stmt)
    assert len(masked) == len(stmt)
    assert "WHERE id = 1" in masked           # not swallowed
    assert "O" not in masked.split("'")[1]    # contents masked
    # doubled-quote escaping still handled
    m2 = _mask_literals("SELECT 'it''s' AS x, 2 AS y")
    assert "AS x, 2 AS y" in m2
    # trailing backslash before end-of-statement: mask to end, no crash
    assert len(_mask_literals("SELECT 'abc\\")) == len("SELECT 'abc\\")


def test_resolve_view_fails_closed_on_catalog_error(spark, view, monkeypatch):
    """If the catalog cannot answer tableExists for a dotted name, the
    tail fallback must NOT re-enable wrong-table DML (ADVICE r10)."""
    from ballista_delta_spark.session import _delta_views, _resolve_view

    name, loc = view
    assert _resolve_view(f"somedb.{name}", spark) == name  # healthy catalog

    class _BrokenCatalog:
        def tableExists(self, _n):
            raise RuntimeError("metastore down")

    monkeypatch.setattr(
        type(spark), "catalog", property(lambda self: _BrokenCatalog())
    )
    assert _resolve_view(f"somedb.{name}", spark) is None  # fail closed
    assert _resolve_view(name, spark) == name  # exact match unaffected


def test_insert_body_supports_time_travel(spark, view):
    name, loc = view
    sql(spark, f"UPDATE {name} SET v = 0 WHERE id = 1")  # bump a version
    sql(
        spark,
        f"INSERT INTO {name} SELECT id + 100, s, v FROM {name} "
        "VERSION AS OF 0 WHERE id = 1",
    )
    got = {r.id: r.v for r in read_delta(spark, loc).collect()}
    assert got[101] == 10  # the PRE-update value, read via time travel


def test_insert_column_list_fills_default_and_identity(spark, tmp_path):
    """INSERT with a column list OMITS unlisted default/identity/generated
    columns so write_delta fills them — NULL-filling bypassed SET DEFAULT
    and tripped the GENERATED ALWAYS guard (review finding, r11)."""
    loc = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, 5)], "id long, v long"), loc,
    )
    name = f"dlt_{abs(hash(loc)) % 10**8}"
    sql(spark, f"CREATE EXTERNAL TABLE {name} STORED AS DELTA LOCATION '{loc}'")
    sql(spark, f"ALTER TABLE {name} ALTER COLUMN v SET DEFAULT 42")
    sql(spark, f"INSERT INTO {name} (id) VALUES (2)")
    got = {r.id: r.v for r in read_delta(spark, loc).collect()}
    assert got == {1: 5, 2: 42}  # default applied, not NULL
    # a column with no default still NULL-fills (SQL semantics)
    sql(spark, f"INSERT INTO {name} (v) VALUES (7)")
    assert {(r.id, r.v) for r in read_delta(spark, loc).collect()} == {
        (1, 5), (2, 42), (None, 7)
    }


def test_insert_positional_with_duplicate_output_names(spark, view):
    """INSERT maps query output to table columns POSITIONALLY, so
    duplicate output names (SELECT a.id, b.id) must not raise AMBIGUOUS
    (review finding, r11)."""
    name, loc = view
    sql(
        spark,
        f"INSERT INTO {name} (id, v) "
        "SELECT a.id + 10, b.id FROM (SELECT 1 AS id) a "
        "CROSS JOIN (SELECT 99 AS id) b",
    )
    got = {r.id: r.v for r in read_delta(spark, loc).collect()}
    assert got[11] == 99


def test_update_set_scalar_subquery_where_split(spark, view):
    """UPDATE splits SET from WHERE at the first TOP-LEVEL where — a
    WHERE inside a parenthesized subquery must not truncate the SET
    expression (review finding, r11). The engine may reject subquery
    assignments, but it must fail on the SUBQUERY, not a garbled parse —
    and a paren-wrapped scalar expression must simply work."""
    name, loc = view
    sql(
        spark,
        f"UPDATE {name} SET v = (CASE WHEN id > 1 THEN 100 ELSE 50 END) "
        "WHERE id = 1",
    )
    got = {r.id: r.v for r in read_delta(spark, loc).collect()}
    assert got == {1: 50, 2: 20, 3: 30}


def test_multiline_optimize_and_alter_default(spark, view):
    """Multi-line predicates/exprs route through the interceptor — the
    OPTIMIZE/ALTER COLUMN regexes lacked DOTALL and silently fell through
    to spark.sql (review finding, r11)."""
    name, loc = view
    out = sql(spark, f"OPTIMIZE {name}\nWHERE id > 0\n  AND id < 99").collect()
    assert out  # routed to the maintenance handler, not spark.sql
    sql(spark, f"ALTER TABLE {name}\nALTER COLUMN v\nSET DEFAULT\n  7")
    sql(spark, f"INSERT INTO {name} (id, s) VALUES (8, 'h')")
    got = {r.id: r.v for r in read_delta(spark, loc).collect()}
    assert got[8] == 7


def test_merge_without_aliases_qualifies_by_table_name(spark, tmp_path):
    """MERGE with no explicit aliases qualifies by TABLE NAME — delta-
    spark treats names as implicit qualifiers (review finding, r11)."""
    loc = str(tmp_path / "mrgtbl")
    write_delta(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"), loc,
    )
    sql(spark, f"CREATE EXTERNAL TABLE mrgtbl STORED AS DELTA LOCATION '{loc}'")
    spark.createDataFrame([(2, 222), (3, 333)], "id long, v long") \
        .createOrReplaceTempView("mrgsrc")
    sql(
        spark,
        "MERGE INTO mrgtbl USING mrgsrc ON mrgtbl.id = mrgsrc.id "
        "WHEN MATCHED THEN UPDATE SET v = mrgsrc.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (mrgsrc.id, mrgsrc.v)",
    )
    got = {r.id: r.v for r in read_delta(spark, loc).collect()}
    assert got == {1: 10, 2: 222, 3: 333}
    spark.catalog.dropTempView("mrgtbl")
    spark.catalog.dropTempView("mrgsrc")


def test_merge_update_set_star_and_case_insensitive_aliases(spark, tmp_path):
    """UPDATE SET * assigns every source column (delta-spark form), and
    alias qualifiers are CASE-INSENSITIVE (TGT./SRC. resolve like
    tgt./src. — review finding, r11)."""
    loc = str(tmp_path / "star")
    write_delta(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"), loc,
    )
    sql(spark, f"CREATE EXTERNAL TABLE startbl STORED AS DELTA LOCATION '{loc}'")
    spark.createDataFrame([(2, 2000)], "id long, v long") \
        .createOrReplaceTempView("starsrc")
    sql(
        spark,
        "MERGE INTO startbl AS tgt USING starsrc AS src ON TGT.id = SRC.id "
        "WHEN MATCHED THEN UPDATE SET *",
    )
    got = {r.id: r.v for r in read_delta(spark, loc).collect()}
    assert got == {1: 10, 2: 2000}
    # BY SOURCE: target rows without a source match take the clause
    sql(
        spark,
        "MERGE INTO startbl AS t2 USING starsrc AS s2 ON t2.id = s2.id "
        "WHEN NOT MATCHED BY SOURCE AND t2.v < 2000 THEN UPDATE SET v = t2.v + 5",
    )
    got = {r.id: r.v for r in read_delta(spark, loc).collect()}
    assert got == {1: 15, 2: 2000}
    # BY TARGET is the standard not-matched spelled explicitly
    sql(
        spark,
        "MERGE INTO startbl AS t3 USING starsrc AS s3 ON t3.id = s3.id + 8 "
        "WHEN NOT MATCHED BY TARGET THEN INSERT (id, v) VALUES (s3.id + 100, s3.v)",
    )
    assert 102 in {r.id for r in read_delta(spark, loc).collect()}
    spark.catalog.dropTempView("startbl")
    spark.catalog.dropTempView("starsrc")


def test_merge_insert_literal_with_backslash_escape(spark, view):
    """_split_top_level honors backslash escapes like _mask_literals —
    an escaped quote inside a VALUES literal must not desync the
    top-level comma split (review finding, r11)."""
    name, loc = view
    sql(
        spark,
        f"MERGE INTO {name} AS t USING (SELECT 9 AS id) AS s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, s, v) "
        "VALUES (s.id, 'O\\'Brien, Inc', 900)",
    )
    got = {r.id: (r.s, r.v) for r in read_delta(spark, loc).collect()}
    assert got[9] == ("O'Brien, Inc", 900)


def test_registry_register_delta_routes_dml(spark, tmp_path):
    """register_delta records the view -> path mapping so DML on a
    registry-registered name routes to the Delta engine instead of dying
    in spark.sql (review finding, r11)."""
    from ballista_delta_spark.sources.registry import register_delta

    loc = str(tmp_path / "regd")
    write_delta(
        spark.createDataFrame([(1, "a")], "id long, s string"), loc,
    )
    register_delta(spark, "regd_view", loc)
    sql(spark, "INSERT INTO regd_view VALUES (2, 'b')")
    sql(spark, "DELETE FROM regd_view WHERE id = 1")
    got = [(r.id, r.s) for r in read_delta(spark, loc).collect()]
    assert got == [(2, "b")]
    spark.catalog.dropTempView("regd_view")


# ---------------------------------------------------------------------------
# DML and time travel are read from Spark's parse tree: forms a text
# splitter got wrong.


def test_merge_clause_condition_with_case_when(spark, view):
    name, loc = view
    sql(
        spark,
        f"MERGE INTO {name} AS t USING (SELECT 1 AS id UNION ALL SELECT 2) AS s "
        "ON t.id = s.id "
        "WHEN MATCHED AND CASE WHEN s.id > 1 THEN true ELSE false END "
        "THEN UPDATE SET v = 0",
    )
    got = {r.id: r.v for r in read_delta(spark, loc).collect()}
    assert got == {1: 10, 2: 0, 3: 30}


def test_merge_insert_values_with_case_when(spark, view):
    name, loc = view
    sql(
        spark,
        f"MERGE INTO {name} tgt USING (SELECT 7 AS id, 70 AS nv) src "
        "ON tgt.id = src.id "
        "WHEN NOT MATCHED THEN INSERT (id, s, v) VALUES "
        "(src.id, CASE WHEN src.nv > 50 THEN 'big' ELSE 'small' END, src.nv)",
    )
    got = {r.id: (r.s, r.v) for r in read_delta(spark, loc).collect()}
    assert got[7] == ("big", 70) and len(got) == 4


def test_aliased_delete_and_update(spark, view):
    name, loc = view
    sql(spark, f"DELETE FROM {name} AS x WHERE x.id = 1")
    sql(spark, f"UPDATE {name} x SET v = 0 WHERE x.id = 2")
    got = {r.id: r.v for r in read_delta(spark, loc).collect()}
    assert got == {2: 0, 3: 30}


def test_delete_with_comment_before_where(spark, view):
    name, loc = view
    sql(spark, f"DELETE FROM {name} /* c */ WHERE id = 3")
    assert sorted(r.id for r in read_delta(spark, loc).collect()) == [1, 2]


def test_time_travel_with_comment_before_clause(spark, view):
    name, loc = view
    sql(spark, f"DELETE FROM {name} WHERE id = 1")  # v1
    rows = sql(
        spark, f"SELECT count(*) AS n FROM {name} /* c */ VERSION AS OF 0"
    ).collect()
    assert rows[0].n == 3


def test_explain_and_describe_query_pin_time_travel(spark, view):
    """EXPLAIN and DESCRIBE QUERY keep their query outside the parse
    tree's children; its time travel is pinned all the same."""
    name, _ = view
    sql(spark, f"DELETE FROM {name} WHERE id = 1")  # v1
    q = f"SELECT * FROM {name} VERSION AS OF 0"
    plan = sql(spark, f"EXPLAIN {q}").collect()[0][0]
    assert "== Physical Plan ==" in plan and "Error" not in plan, plan
    cols = [r.col_name for r in sql(spark, f"DESCRIBE QUERY {q}").collect()]
    assert cols == ["id", "s", "v"]


def test_cte_prefixed_insert(spark, view):
    name, loc = view
    sql(
        spark,
        "WITH q AS (SELECT 5 AS id, 'e' AS s, 50 AS v) "
        f"INSERT INTO {name} SELECT id, s, v FROM q",
    )
    got = {r.id: (r.s, r.v) for r in read_delta(spark, loc).collect()}
    assert got[5] == ("e", 50) and len(got) == 4


def test_variable_substitution_before_sliced_spans(spark, view):
    """Spark substitutes ${var} before it parses, so origins index the
    substituted text: slices must come from that text."""
    name, loc = view
    spark.conf.set("bds_lim", "1")
    try:
        sql(spark, f"DELETE FROM {name} WHERE id > ${{bds_lim}} + 1")
        n = sql(
            spark,
            "SELECT count(*) AS n FROM (SELECT ${bds_lim} AS x) q, "
            f"{name} VERSION AS OF 0",
        ).collect()[0].n
    finally:
        spark.conf.unset("bds_lim")
    assert sorted(r.id for r in read_delta(spark, loc).collect()) == [1, 2]
    assert n == 3


def test_unsupported_insert_clause_names_it(spark, view):
    from ballista_delta_spark.sources.delta import _load_snapshot

    name, loc = view
    version = _load_snapshot(loc).version
    with pytest.raises(ValueError, match="PARTITION"):
        sql(spark, f"INSERT INTO {name} PARTITION (s = 'z') SELECT 9, 90")
    assert _load_snapshot(loc).version == version


def test_plain_select_is_not_parsed_by_the_router(spark, view, monkeypatch):
    """Only DML, WITH and statements holding the keyword OF pay the
    router's parse; a plain SELECT goes straight to spark.sql."""
    from ballista_delta_spark import session

    name, _ = view
    calls = []
    real = session._parse_plan
    monkeypatch.setattr(
        session, "_parse_plan",
        lambda spark, st: calls.append(st) or real(spark, st),
    )
    out = sql(spark, f"SELECT count(*) AS n FROM {name} WHERE s <> 'x of y'")
    assert out.collect()[0].n == 3 and calls == []
    out = sql(spark, f"WITH q AS (SELECT * FROM {name}) SELECT count(*) AS n FROM q")
    assert out.collect()[0].n == 3 and calls == []
    sql(spark, f"SELECT count(*) AS n FROM {name} VERSION AS OF 0").collect()
    assert len(calls) == 1


def test_update_extraction_reads_spark_parse_tree(spark):
    """UPDATE's condition and SET text come from the parse tree: commas,
    WHERE and quotes inside literals, calls and subqueries stay where
    they belong, and qualifiers of the target are dropped."""
    from ballista_delta_spark.session import _parse_plan, _Spliced, _update_args

    st = (
        "UPDATE t x SET x.a = f(1, 2), b = 'p, WHERE q' , c = true "
        "WHERE x.id IN (SELECT id FROM u WHERE k = 'a') AND x.s <> 'it''s'"
    )
    cond, sets = _update_args("x", _parse_plan(spark, st), _Spliced(st))
    assert sets == {"a": "f(1, 2)", "b": "'p, WHERE q'", "c": "true"}
    assert cond == (
        "`id` IN (SELECT id FROM u WHERE k = 'a') AND `s` <> 'it''s'"
    )


def test_predicate_and_exists_text_spans_the_whole_expression(spark):
    """A predicate's parser origin starts at its keyword (IN, LIKE, IS
    NULL, ...) and EXISTS has none of its own; the text handed to the
    engine still spans the whole expression."""
    from ballista_delta_spark.session import _parse_plan, _Spliced, _update_args

    for e in [
        "v IN (1, 2)",
        "v NOT IN (SELECT v FROM u)",
        "v BETWEEN 1 AND 2",
        "s NOT LIKE 'a%' ESCAPE '!'",
        "s IS NOT NULL",
        "s IS DISTINCT FROM 'x'",
        "NOT NOT v IN (1)",
        "false OR v IN (1)",
        "EXISTS (SELECT 1 FROM u WHERE u.k = v)",
        "EXISTS (SELECT 1 FROM u WHERE s = ')')",
        "v IN (1) OR NOT EXISTS (SELECT 1)",
        "(v + 1) IN (1, 2)",
        "(s) LIKE 'a%'",
        "(v - 1) IS NULL",
        "((v)) BETWEEN 1 AND 2",
        "( /* c) */ v) IN (1)",
        "(s || ')') LIKE 'a%'",
        "(v) IN (1) AND (v + 1) IN (2)",
    ]:
        st = f"UPDATE t SET c = {e} WHERE {e}"
        assert _update_args("t", _parse_plan(spark, st), _Spliced(st)) == (
            e, {"c": e}
        )


def test_delete_and_update_with_a_predicate_condition(spark, view):
    name, loc = view
    sql(spark, f"UPDATE {name} SET v = -1 WHERE s LIKE 'c%'")
    sql(spark, f"DELETE FROM {name} WHERE id IN (1, 2)")
    assert [(r.id, r.v) for r in read_delta(spark, loc).collect()] == [(3, -1)]


def test_delete_and_update_with_a_parenthesized_left_operand(spark, view):
    name, loc = view
    sql(spark, f"UPDATE {name} SET v = 0 WHERE (v - 10) IS NULL OR (s) LIKE 'c%'")
    sql(spark, f"DELETE FROM {name} WHERE (v + 1) IN (11, 21)")
    assert [(r.id, r.v) for r in read_delta(spark, loc).collect()] == [(3, 0)]


def test_fsck_dry_run_reports_a_missing_file(spark, view):
    """A dry run reports the missing file, commits nothing and leaves the
    view on its snapshot (re-reading it would fail on the missing path)."""
    import glob
    import os

    from ballista_delta_spark.sources.delta import DeltaTable

    name, loc = view
    sql(spark, f"INSERT INTO {name} VALUES (4, 'd', 40)")
    version = DeltaTable(loc).version
    os.remove(sorted(glob.glob(os.path.join(loc, "*.parquet")))[0])
    out = sql(spark, f"FSCK REPAIR TABLE {name} DRY RUN").collect()[0]
    assert out.files_removed == 1 and DeltaTable(loc).version == version
    out = sql(spark, f"FSCK REPAIR TABLE {name}").collect()[0]
    assert out.files_removed == 1 and out.committed_version == version + 1


def test_timestamp_as_of_reads_in_session_time_zone(spark, tmp_path):
    """A zone-less TIMESTAMP AS OF / RESTORE literal is wall-clock time in
    spark.sql.session.timeZone, as Spark reads it."""
    import json
    import os

    loc = str(tmp_path / "tz")
    write_delta(spark.createDataFrame([(1,)], "id long"), loc)      # v0
    write_delta(spark.createDataFrame([(2,)], "id long"), loc)      # v1
    # Pin commit times: v0 at 00:16:40 UTC, v1 at 00:33:20 UTC.
    for v, ts in {0: 1000_000, 1: 2000_000}.items():
        fp = os.path.join(loc, "_delta_log", f"{v:020d}.json")
        acts = [json.loads(line) for line in open(fp)]
        for a in acts:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = ts
        with open(fp, "w") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in acts)
    name = f"tz_{abs(hash(loc)) % 10**8}"
    sql(spark, f"CREATE EXTERNAL TABLE {name} STORED AS DELTA LOCATION '{loc}'")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")  # UTC+9
    try:
        # 09:25 in Tokyo is 00:25 UTC: after v0, before v1.
        ts = "1970-01-01 09:25:00"
        rows = sql(
            spark, f"SELECT id FROM {name} TIMESTAMP AS OF '{ts}'"
        ).collect()
        assert [r.id for r in rows] == [1]
        out = sql(
            spark, f"RESTORE TABLE {name} TO TIMESTAMP AS OF '{ts}'"
        ).collect()[0]
        assert out.restoredVersion == 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_timestamp_as_of_takes_a_typed_literal(spark, tmp_path):
    """``TIMESTAMP AS OF TIMESTAMP '…'`` and ``TIMESTAMP_NTZ '…'`` pick the
    same snapshot as the string form, zone-less text read in the session
    time zone."""
    import json
    import os

    loc = str(tmp_path / "typed")
    write_delta(spark.createDataFrame([(1,)], "id long"), loc)      # v0
    write_delta(spark.createDataFrame([(2,)], "id long"), loc)      # v1
    # Pin commit times: v0 at 00:16:40 UTC, v1 at 00:33:20 UTC.
    for v, ts in {0: 1000_000, 1: 2000_000}.items():
        fp = os.path.join(loc, "_delta_log", f"{v:020d}.json")
        acts = [json.loads(line) for line in open(fp)]
        for a in acts:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = ts
        with open(fp, "w") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in acts)
    name = f"typed_{abs(hash(loc)) % 10**8}"
    sql(spark, f"CREATE EXTERNAL TABLE {name} STORED AS DELTA LOCATION '{loc}'")

    def ids(as_of):
        q = f"SELECT id FROM {name} TIMESTAMP AS OF {as_of} ORDER BY id"
        return [r.id for r in sql(spark, q).collect()]

    assert ids("TIMESTAMP '2099-01-01 00:00:00'") == [1, 2]
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")  # UTC+9
    try:
        # 09:25 in Tokyo is 00:25 UTC: after v0, before v1.
        assert ids("'1970-01-01 09:25:00'") == [1]
        assert ids("TIMESTAMP '1970-01-01 09:25:00'") == [1]
        assert ids("TIMESTAMP_NTZ '1970-01-01 09:25:00'") == [1]
        assert ids("TIMESTAMP '1970-01-01 00:25:00Z'") == [1]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_timestamp_with_offset_needs_no_session_zone(spark):
    """A literal with an offset or 'Z' is an instant whatever the session
    zone; a zone-less one needs a session zone Python can resolve."""
    from ballista_delta_spark.session import _ts_to_epoch_ms

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "GMT+08:00")  # Java-only
    try:
        assert _ts_to_epoch_ms("1970-01-01T00:00:01Z") == 1000
        assert _ts_to_epoch_ms("1970-01-01 09:00:00+09:00") == 0
        with pytest.raises(ValueError, match="session time zone"):
            _ts_to_epoch_ms("1970-01-01 00:00:00")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
