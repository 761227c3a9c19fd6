"""ANALYZE TABLE ... COMPUTE DELTA STATISTICS (stats recompute).

delta-spark's StatisticsCollection.recompute: refresh add-action stats
from parquet footers in a metadata-only commit (dataChange=false, same
files). The killer use case: a table written by a stats-less engine
scans every file; one recompute restores data skipping.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from ballista_delta_spark.sources.delta import (
    DeltaTable,
    read_delta,
    recompute_stats,
    skip_files,
    write_delta,
)
from ballista_delta_spark.sources.delta_dml import delete_delta


def _strip_stats(path: str) -> None:
    """Simulate a stats-less writer: drop stats from every committed add."""
    log = os.path.join(path, "_delta_log")
    for name in os.listdir(log):
        if not name.endswith(".json"):
            continue
        fp = os.path.join(log, name)
        out = []
        with open(fp) as fh:
            for line in fh:
                if not line.strip():
                    continue
                act = json.loads(line)
                if "add" in act:
                    act["add"].pop("stats", None)
                out.append(json.dumps(act))
        with open(fp, "w") as fh:
            fh.write("\n".join(out) + "\n")


def test_recompute_restores_data_skipping(spark, sf_dir):
    tbl = os.path.join(tempfile.mkdtemp(prefix="bds-stats-"), "t")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").repartition(4)
    write_delta(nation, tbl, mode="overwrite")
    _strip_stats(tbl)
    snap = DeltaTable(tbl).snapshot
    assert all("stats" not in a for a in snap.files.values())
    # nothing to prune on without stats
    pruned = skip_files(snap, "n_regionkey = 99")
    assert len(pruned) == len(snap.files)

    res = recompute_stats(tbl)
    assert res["numFilesRecomputed"] == len(snap.files)
    assert res["numFilesSkipped"] == 0
    snap2 = DeltaTable(tbl).snapshot
    assert snap2.version == snap.version + 1
    for add in snap2.files.values():
        st = json.loads(add["stats"])
        assert st["numRecords"] > 0
        assert "n_regionkey" in st["minValues"]
    # an impossible predicate now prunes EVERY file
    pruned = skip_files(snap2, "n_regionkey = 99")
    assert len(pruned) == 0
    # and the commit is metadata-only: same physical files, same rows
    assert set(snap2.files) == set(snap.files)
    got = read_delta(spark, tbl)
    assert got.count() == nation.count()


def test_recompute_dry_run_commits_nothing(spark, sf_dir):
    tbl = os.path.join(tempfile.mkdtemp(prefix="bds-stats-"), "t")
    write_delta(
        spark.read.parquet(f"{sf_dir}/region.parquet"), tbl, mode="overwrite"
    )
    _strip_stats(tbl)
    v0 = DeltaTable(tbl).snapshot.version
    res = recompute_stats(tbl, dry_run=True)
    assert res["numFilesRecomputed"] >= 1
    assert res["version"] == v0
    assert DeltaTable(tbl).snapshot.version == v0


def test_recompute_for_columns_restricts_keys(spark, sf_dir):
    tbl = os.path.join(tempfile.mkdtemp(prefix="bds-stats-"), "t")
    write_delta(
        spark.read.parquet(f"{sf_dir}/nation.parquet"), tbl, mode="overwrite"
    )
    res = recompute_stats(tbl, columns=["n_nationkey"])
    assert res["columns"] == ["n_nationkey"]
    snap = DeltaTable(tbl).snapshot
    for add in snap.files.values():
        st = json.loads(add["stats"])
        assert list(st["minValues"]) == ["n_nationkey"]
        assert st["numRecords"] > 0


def test_recompute_keeps_dv_bounds_wide(spark, sf_dir):
    tbl = os.path.join(tempfile.mkdtemp(prefix="bds-stats-"), "t")
    write_delta(
        spark.read.parquet(f"{sf_dir}/nation.parquet"), tbl, mode="overwrite"
    )
    delete_delta(spark, tbl, "n_nationkey = 3", mode="dv")
    res = recompute_stats(tbl)
    snap = DeltaTable(tbl).snapshot
    saw_dv = False
    for add in snap.files.values():
        st = json.loads(add["stats"])
        if add.get("deletionVector"):
            saw_dv = True
            # physical row count incl. deleted rows, bounds flagged wide
            assert st["tightBounds"] is False
    assert saw_dv and res["numFilesRecomputed"] == len(snap.files)
    # live rows unchanged by the recompute
    got = read_delta(spark, tbl).filter(F.col("n_nationkey") == 3)
    assert got.count() == 0


def test_analyze_sql_form(spark, sf_dir):
    from ballista_delta_spark.session import sql

    tbl = os.path.join(tempfile.mkdtemp(prefix="bds-stats-"), "t")
    write_delta(
        spark.read.parquet(f"{sf_dir}/region.parquet"), tbl, mode="overwrite"
    )
    _strip_stats(tbl)
    sql(spark, f"CREATE EXTERNAL TABLE stats_t STORED AS DELTA LOCATION '{tbl}'")
    row = sql(
        spark, "ANALYZE TABLE stats_t COMPUTE DELTA STATISTICS"
    ).collect()[0]
    assert row["files_recomputed"] >= 1
    snap = DeltaTable(tbl).snapshot
    assert all(
        json.loads(a["stats"])["numRecords"] > 0 for a in snap.files.values()
    )


def test_recompute_variant_table_spark_fallback(spark, tmp_path):
    """Variant tables can't be footer-read by pyarrow — the recompute must
    route through the one-job Spark-side stats path and still refresh the
    scalar sibling columns."""
    tbl = str(tmp_path / "vt")
    df = spark.sql(
        """SELECT id, parse_json(concat('{"a": ', id, '}')) AS v
           FROM range(0, 50)"""
    )
    write_delta(df.repartition(3), tbl)
    _strip_stats(tbl)
    res = recompute_stats(tbl, spark=spark)
    assert res["numFilesRecomputed"] >= 1 and res["numFilesSkipped"] == 0
    snap = DeltaTable(tbl).snapshot
    for add in snap.files.values():
        st = json.loads(add["stats"])
        assert st["numRecords"] > 0
        assert "id" in st["minValues"] and "v" not in st["minValues"]
    # and without a SparkSession the variant table refuses loudly
    import pytest

    with pytest.raises(ValueError, match="variant"):
        recompute_stats(tbl)


def test_recompute_skips_truncated_footer(spark, tmp_path):
    """An unreadable footer skips that one file — its old stats stay in
    the log — instead of failing the recompute of a 4-file table."""
    tbl = str(tmp_path / "t")
    write_delta(spark.range(0, 400, 1, 4).selectExpr("id"), tbl)
    snap = DeltaTable(tbl).snapshot
    assert len(snap.files) == 4
    victim = sorted(snap.files)[0]
    old_stats = snap.files[victim]["stats"]
    fp = os.path.join(tbl, victim)
    with open(fp, "rb") as fh:
        head = fh.read(16)
    with open(fp, "wb") as fh:
        fh.write(head)

    res = recompute_stats(tbl, spark=spark)
    assert res["numFilesSkipped"] == 1
    assert res["numFilesRecomputed"] == 3
    snap2 = DeltaTable(tbl).snapshot
    assert snap2.version == snap.version + 1
    assert snap2.files[victim]["stats"] == old_stats


def test_recompute_loses_race_cleanly(spark, sf_dir, monkeypatch):
    """COMPUTE STATS is not a blind append — losing an optimistic-commit
    race must raise ConcurrentWriteException (the caller reloads and
    retries), never silently clobber the winner's version."""
    import pytest

    from ballista_delta_spark.sources.delta import ConcurrentWriteException

    tbl = os.path.join(tempfile.mkdtemp(prefix="bds-stats-"), "t")
    write_delta(
        spark.read.parquet(f"{sf_dir}/region.parquet"), tbl, mode="overwrite"
    )

    real_link = os.link
    state = {"armed": True}

    def fake(src: str, dst: str):
        if state["armed"] and "_delta_log" in dst and dst.endswith(".json"):
            state["armed"] = False
            with open(dst, "w") as fh:
                fh.write(json.dumps(
                    {"commitInfo": {"timestamp": 0, "operation": "DELETE"}}
                ) + "\n")
                fh.write(json.dumps(
                    {"remove": {"path": "nope.parquet",
                                "deletionTimestamp": 0,
                                "dataChange": True}}
                ) + "\n")
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", fake)
    with pytest.raises(ConcurrentWriteException):
        recompute_stats(tbl)
