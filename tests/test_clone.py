"""SHALLOW CLONE — zero-copy table forks.

Reference context: no clone analogue exists in the reference (write surface
errors, reference tests/local.rs:100-103); mirrors delta-spark's
CREATE TABLE ... SHALLOW CLONE per the public Delta protocol (absolute-path
add actions are spec-legal and the documented clone mechanism).
"""

import glob
import os

import pytest

from ballista_delta_spark.sources.delta import (
    _load_snapshot,
    clone_delta,
    optimize,
    read_delta,
    write_delta,
)
from ballista_delta_spark.sources.delta_dml import delete_delta, update_delta


@pytest.fixture()
def src(spark, tmp_path):
    path = str(tmp_path / "src")
    df = spark.range(20).selectExpr(
        "id AS k", "id * 2 AS v", "CAST(id % 4 AS INT) AS p"
    )
    write_delta(df, path, mode="overwrite")
    return path


def test_clone_is_zero_copy_and_reads_identically(spark, src, tmp_path):
    dst = str(tmp_path / "dst")
    v = clone_delta(src, dst)
    assert v == 0
    # No data files were copied into the clone dir.
    assert glob.glob(os.path.join(dst, "*.parquet")) == []
    a = read_delta(spark, src).orderBy("k").collect()
    b = read_delta(spark, dst).orderBy("k").collect()
    assert a == b
    # Fresh table id, same schema/protocol.
    s_src, s_dst = _load_snapshot(src), _load_snapshot(dst)
    assert s_src.metadata_raw["id"] != s_dst.metadata_raw["id"]
    assert s_src.schema == s_dst.schema


def test_clone_dml_does_not_touch_source(spark, src, tmp_path):
    dst = str(tmp_path / "dst")
    clone_delta(src, dst)
    delete_delta(spark, dst, "k >= 10")
    update_delta(spark, dst, "k = 1", {"v": "111"})
    assert read_delta(spark, dst).count() == 10
    assert read_delta(spark, dst).filter("k = 1").collect()[0]["v"] == 111
    # Source untouched — same rows, same files.
    assert read_delta(spark, src).count() == 20
    assert read_delta(spark, src).filter("k = 1").collect()[0]["v"] == 2


def test_clone_of_partitioned_table(spark, tmp_path):
    s = str(tmp_path / "psrc")
    write_delta(
        spark.range(12).selectExpr("id AS k", "CAST(id % 3 AS INT) AS p"),
        s, mode="overwrite", partition_by=["p"],
    )
    d = str(tmp_path / "pdst")
    clone_delta(s, d)
    out = read_delta(spark, d)
    assert out.count() == 12
    assert out.filter("p = 1").count() == 4
    assert {r["p"] for r in out.select("p").distinct().collect()} == {0, 1, 2}


def test_clone_carries_deletion_vectors(spark, src, tmp_path):
    delete_delta(spark, src, "k < 5", mode="dv")
    dst = str(tmp_path / "dst")
    clone_delta(src, dst)
    snap = _load_snapshot(dst)
    descs = [
        a["deletionVector"] for a in snap.files.values()
        if a.get("deletionVector")
    ]
    assert descs, "DV descriptors must carry over"
    # Rewritten to absolute-path storage so they resolve from the new root.
    assert all(d["storageType"] == "p" for d in descs)
    assert read_delta(spark, dst).count() == 15
    assert read_delta(spark, dst).agg({"k": "min"}).collect()[0][0] == 5


def test_optimize_clone_localizes_files(spark, src, tmp_path):
    dst = str(tmp_path / "dst")
    clone_delta(src, dst)
    optimize(spark, dst, target_file_rows=1000)
    # Compaction materializes the clone's data into its own root...
    snap = _load_snapshot(dst)
    assert all(not os.path.isabs(r) for r in snap.files)
    assert read_delta(spark, dst).count() == 20
    # ...and the source is still intact.
    assert read_delta(spark, src).count() == 20


def test_clone_refuses_existing_destination(spark, src, tmp_path):
    dst = str(tmp_path / "dst")
    clone_delta(src, dst)
    with pytest.raises(ValueError, match="already a Delta table"):
        clone_delta(src, dst)


def test_clone_sql_ddl(spark, src, tmp_path):
    from ballista_delta_spark.session import sql as bds_sql

    bds_sql(
        spark,
        f"CREATE EXTERNAL TABLE clsrc STORED AS DELTA LOCATION '{src}'",
    )
    dst = str(tmp_path / "ddl_dst")
    bds_sql(
        spark,
        f"CREATE TABLE clclone SHALLOW CLONE clsrc LOCATION '{dst}'",
    )
    assert spark.table("clclone").count() == 20
    bds_sql(spark, "DELETE FROM clclone WHERE k < 10")
    assert spark.table("clclone").count() == 10
    assert spark.table("clsrc").count() == 20
    spark.catalog.dropTempView("clsrc")
    spark.catalog.dropTempView("clclone")


def test_vacuum_on_clone_never_touches_source(spark, tmp_path):
    """DML on a clone tombstones SOURCE files by absolute path; VACUUM on
    the clone must not reach outside its own root (the review-found
    cross-table data-loss hazard)."""
    from ballista_delta_spark.sources.delta import (
        clone_delta,
        read_delta,
        vacuum,
        write_delta,
    )
    from ballista_delta_spark.sources.delta_dml import delete_delta

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_delta(spark.range(100).selectExpr("id").coalesce(1), src)
    clone_delta(src, dst)
    delete_delta(spark, dst, "id < 50")  # tombstones the source-file ref
    removed = vacuum(dst, retention_ms=0)
    # nothing outside the clone root was deleted — the source still scans
    assert all(not os.path.isabs(r) for r in removed)
    assert read_delta(spark, src).count() == 100
    assert read_delta(spark, dst).count() == 50


def test_clone_carries_domain_metadata(spark, tmp_path):
    """Row-tracking high-water mark and clustering columns survive the
    clone; an append to the clone allocates PAST the cloned ids."""
    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        alter_properties,
        clone_delta,
        cluster_by,
        clustering_columns,
        read_delta_with_row_ids,
        write_delta,
    )

    src = str(tmp_path / "rt_src")
    dst = str(tmp_path / "rt_dst")
    write_delta(
        spark.range(100).selectExpr("id", "id % 7 AS a").coalesce(1), src
    )
    cluster_by(src, ["a"])
    alter_properties(spark, src, {"delta.enableRowTracking": "true"})
    clone_delta(src, dst)
    snap = _load_snapshot(dst)
    assert clustering_columns(snap) == ["a"]
    assert "delta.rowTracking" in snap.domain_metadata
    # txn ledger deliberately NOT cloned
    assert snap.app_transactions == {}
    write_delta(
        spark.range(100, 110).selectExpr("id", "id % 7 AS a"), dst,
        mode="append",
    )
    got = read_delta_with_row_ids(spark, dst)
    assert got.count() == 110
    assert got.select("row_id").distinct().count() == 110  # no collisions


def test_deep_clone_is_self_contained(spark, tmp_path):
    """DEEP CLONE copies every data file and DV bin: deleting the SOURCE
    outright leaves the clone fully readable — the snapshot/DR form."""
    import shutil

    from ballista_delta_spark.sources.delta import clone_delta
    from ballista_delta_spark.sources.delta_dml import delete_delta

    src = str(tmp_path / "src")
    write_delta(
        spark.range(20).selectExpr("id", "CAST(id % 2 AS INT) AS p"),
        src, partition_by=["p"],
    )
    delete_delta(spark, src, "id < 4", mode="dv")  # live DV state
    dst = str(tmp_path / "deep")
    clone_delta(src, dst, deep=True)
    import json as _json
    import os as _os

    acts = [
        _json.loads(line)
        for line in open(_os.path.join(dst, "_delta_log",
                                       f"{0:020d}.json"))
    ]
    ci = next(a["commitInfo"] for a in acts if "commitInfo" in a)
    assert ci["operationParameters"]["isShallow"] == "false"
    assert int(ci["operationMetrics"]["numCopiedFiles"]) > 0
    # every add path is RELATIVE (self-contained)
    assert all(
        not _os.path.isabs(a["add"]["path"]) for a in acts if "add" in a
    )
    shutil.rmtree(src)  # destroy the source entirely
    got = sorted(r.id for r in read_delta(spark, dst).collect())
    assert got == list(range(4, 20))  # DV state survived the copy


def test_deep_clone_sql_route_and_of_shallow_clone(spark, tmp_path):
    """DEEP CLONE of a SHALLOW clone flattens the absolute-path refs into
    owned copies; the SQL DDL routes both depths."""
    from ballista_delta_spark.session import sql as bd_sql
    from ballista_delta_spark.sources.delta import clone_delta

    src = str(tmp_path / "src")
    write_delta(spark.range(10).selectExpr("id"), src)
    shallow = str(tmp_path / "shallow")
    clone_delta(src, shallow)  # refs src by absolute path
    deep = str(tmp_path / "deep")
    bd_sql(
        spark,
        f"CREATE TABLE dcl DEEP CLONE '{shallow}' LOCATION '{deep}'",
    )
    import shutil

    shutil.rmtree(src)
    shutil.rmtree(shallow)
    assert spark.table("dcl").count() == 10
    assert read_delta(spark, deep).count() == 10


def test_deep_clone_p_dv_bins_with_colliding_basenames(spark, tmp_path):
    """Two DISTINCT absolute-path ('p') DV bins sharing a basename must
    not alias to one copied file, and the clone's descriptors must be
    rewritten to relative 'u' storage so the clone stays relocatable."""
    import json as _json
    import shutil

    from ballista_delta_spark.sources import dv as _dv
    from ballista_delta_spark.sources.delta import _try_commit, clone_delta

    src = str(tmp_path / "src")
    write_delta(
        spark.range(20).selectExpr("id", "CAST(id % 2 AS INT) AS p"),
        src, partition_by=["p"],
    )
    delete_delta(spark, src, "id IN (0, 1, 2, 3)", mode="dv")
    snap = _load_snapshot(src)
    dv_adds = {r: a for r, a in snap.files.items() if a.get("deletionVector")}
    assert len(dv_adds) >= 2  # both partitions carry a DV
    # Externalize each 'u' bin to its own dir under the SAME basename and
    # re-commit the adds with absolute-path descriptors — the shape a
    # shallow-clone-of-a-shallow-clone (or cross-table ref) produces.
    actions = []
    for i, (rel, a) in enumerate(sorted(dv_adds.items())):
        desc = dict(a["deletionVector"])
        bin_src = _dv.dv_file_path(src, desc)
        ext = tmp_path / f"ext{i}"
        ext.mkdir()
        shutil.copy2(bin_src, str(ext / "shared.bin"))
        desc["storageType"] = "p"
        desc["pathOrInlineDv"] = str(ext / "shared.bin")
        rm = {k: v for k, v in a.items() if k != "stats"}
        rm["path"], rm["dataChange"] = rel, False
        actions.append({"remove": {**rm, "deletionTimestamp": 0}})
        actions.append({"add": {**a, "path": rel, "dataChange": False,
                                "deletionVector": desc}})
    _try_commit(src, actions, [])
    before = sorted(r.id for r in read_delta(spark, src).collect())
    assert before == list(range(4, 20))

    dst = str(tmp_path / "deep")
    clone_delta(src, dst, deep=True)
    csnap = _load_snapshot(dst)
    descs = [a["deletionVector"] for a in csnap.files.values()
             if a.get("deletionVector")]
    assert len(descs) >= 2
    assert all(d["storageType"] == "u" for d in descs)  # relocatable form
    # distinct source bins -> distinct clone bins (no basename aliasing)
    clone_bins = {_dv.dv_file_path(dst, d) for d in descs}
    assert len(clone_bins) == len(descs)
    # destroy the source AND relocate the clone: still byte-correct
    shutil.rmtree(src)
    moved = str(tmp_path / "moved")
    shutil.move(dst, moved)
    got = sorted(r.id for r in read_delta(spark, moved).collect())
    assert got == before


def test_full_dml_matrix_on_partitioned_shallow_clone(spark, tmp_path):
    """A shallow clone of a PARTITIONED table takes the non-Hive union
    scan path (abs-path references). With ``with_location`` enabled on
    that path (r11), the entire DML surface works on the clone — DV and
    COW deletes/updates, MERGE — with the source never touched
    (delta-spark supports the same; clones exist to be experimented on)."""
    from ballista_delta_spark.sources.delta import (
        clone_delta, read_delta, write_delta,
    )
    from ballista_delta_spark.sources.delta_dml import (
        delete_delta, merge_delta, update_delta,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    write_delta(
        spark.range(100).selectExpr("id", "CAST(id % 2 AS INT) AS p"),
        src, partition_by=["p"],
    )
    clone_delta(src, dst)

    m = delete_delta(spark, dst, "id < 4", mode="dv")
    assert m["numDeletedRows"] == 4

    update_delta(spark, dst, "id >= 98", {"id": "id + 1000"})          # cow
    update_delta(spark, dst, "id = 50", {"id": "id + 2000"}, mode="dv")
    delete_delta(spark, dst, "id = 60")                                 # cow

    merge_delta(
        spark, dst,
        spark.range(40, 44).selectExpr("id AS key", "CAST(9 AS INT) AS p"),
        "t.id = s.key",
        matched_update={"p": "s.p"},
        not_matched_insert={"id": "s.key", "p": "s.p"},
    )

    got = read_delta(spark, dst)
    ids = sorted(r.id for r in got.collect())
    expect = sorted(
        (set(range(4, 98)) - {50, 60}) | {2050, 1098, 1099}
    )
    assert ids == expect
    assert got.filter("p = 9").count() == 4          # merge updates landed
    assert got.filter("id = 2050").count() == 1      # dv update post-image
    # the source is bit-for-bit unaffected
    assert read_delta(spark, src).count() == 100
    assert sorted(r.id for r in read_delta(spark, src).collect()) == list(
        range(100)
    )


def test_optimize_and_reorg_on_partitioned_shallow_clone(spark, tmp_path):
    """Maintenance ops compose on the partitioned shallow clone too:
    OPTIMIZE compacts the abs-referenced files into clone-owned ones and
    REORG purges the clone's DVs — the source is never touched."""
    from ballista_delta_spark.sources.delta import (
        clone_delta, optimize, read_delta, reorg_purge, write_delta,
    )
    from ballista_delta_spark.sources.delta_dml import delete_delta

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    write_delta(
        spark.range(100).selectExpr("id", "CAST(id % 2 AS INT) AS p"),
        src, partition_by=["p"],
    )
    write_delta(
        spark.range(100, 110).selectExpr("id", "CAST(id % 2 AS INT) AS p"),
        src, mode="append", partition_by=["p"],
    )
    clone_delta(src, dst)
    v = optimize(spark, dst)
    got = read_delta(spark, dst)
    assert v > 0 and got.count() == 110 and got.filter("p = 1").count() == 55
    delete_delta(spark, dst, "id < 5", mode="dv")
    m = reorg_purge(spark, dst)
    assert m["numFilesRewritten"] >= 1
    assert read_delta(spark, dst).count() == 105
    assert read_delta(spark, src).count() == 110  # source untouched


def test_null_partition_values_on_shallow_clone(spark, tmp_path):
    """partitionValues may be null (__HIVE_DEFAULT_PARTITION__). The
    non-Hive union scan must order its partition groups with a None-safe
    key — sorting (('p', '1'),) against (('p', None),) raised TypeError
    and crashed every scan/DML on the clone (review finding, r11) — and
    a DV delete must work over the mixed-null layout."""
    from ballista_delta_spark.sources.delta_dml import delete_delta

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    write_delta(
        spark.range(20).selectExpr(
            "id", "CASE WHEN id < 10 THEN CAST(id % 2 AS INT) END AS p"
        ),
        src, partition_by=["p"],
    )
    assert os.path.isdir(os.path.join(src, "p=__HIVE_DEFAULT_PARTITION__"))
    clone_delta(src, dst)
    got = read_delta(spark, dst)
    assert got.count() == 20
    assert got.filter("p IS NULL").count() == 10
    m = delete_delta(spark, dst, "id < 5", mode="dv")
    assert m["numDeletedRows"] == 5
    assert sorted(r.id for r in read_delta(spark, dst).collect()) == list(
        range(5, 20)
    )
    assert read_delta(spark, src).count() == 20  # source untouched


def test_deep_clone_copies_on_the_driver(spark, tmp_path):
    """DEEP CLONE through SQL copies its data files on the driver: no
    Spark job runs, and the clone reads the same rows."""
    from ballista_delta_spark.session import sql as bd_sql

    src = str(tmp_path / "src")
    # 4 range partitions -> 4 part files, written without a shuffle
    write_delta(spark.range(0, 40, 1, 4).selectExpr("id"), src)
    assert len(_load_snapshot(src).files) >= 4
    dst = str(tmp_path / "deep")
    sc = spark.sparkContext
    sc.setJobGroup("deep-clone", "DEEP CLONE of a 4-file table")
    try:
        bd_sql(spark, f"CREATE TABLE dcl4 DEEP CLONE '{src}' LOCATION '{dst}'")
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup("deep-clone")) == []
    assert len(glob.glob(os.path.join(dst, "*.parquet"))) >= 4
    assert sorted(r.id for r in read_delta(spark, dst).collect()) == list(
        range(40)
    )
