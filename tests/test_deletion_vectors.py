"""Deletion-vector read support (Delta PROTOCOL.md "Deletion Vectors").

The fixtures are synthesized by a test-side serializer written directly
from the RoaringFormatSpec + Delta DV framing, exercising array, bitmap
AND run containers, both storage types (UUID-named .bin file with
size/CRC framing, and inline Z85), and the reader-feature gate.
"""

from __future__ import annotations

import glob
import json
import os
import struct
import uuid as _uuid
import zlib

import pytest

from ballista_delta_spark.sources.delta import DeltaTable, read_delta, write_delta
from ballista_delta_spark.sources.dv import (
    parse_roaring_bitmap_array,
    read_deletion_vector,
    z85_decode,
    z85_encode,
)


# ----------------------------------------------------------- serializer
def _serialize_roaring32(values: list[int], force_runs: bool = False) -> bytes:
    """Standard 32-bit roaring serialization. Array containers for
    cardinality <= 4096, bitmap above, run containers when force_runs."""
    chunks: dict[int, list[int]] = {}
    for v in sorted(values):
        chunks.setdefault(v >> 16, []).append(v & 0xFFFF)
    size = len(chunks)
    out = bytearray()
    if force_runs:
        out += struct.pack("<I", 12347 | ((size - 1) << 16))
        out += bytes([0xFF] * ((size + 7) // 8))  # all containers are runs
        for key, vals in sorted(chunks.items()):
            out += struct.pack("<HH", key, len(vals) - 1)
        if size >= 4:
            pass  # offsets would go here; tests keep size < 4 for runs
        for _key, vals in sorted(chunks.items()):
            runs = []
            start = prev = vals[0]
            for v in vals[1:]:
                if v == prev + 1:
                    prev = v
                else:
                    runs.append((start, prev - start))
                    start = prev = v
            runs.append((start, prev - start))
            out += struct.pack("<H", len(runs))
            for s, l in runs:
                out += struct.pack("<HH", s, l)
        return bytes(out)
    out += struct.pack("<I", 12346)
    out += struct.pack("<I", size)
    for key, vals in sorted(chunks.items()):
        out += struct.pack("<HH", key, len(vals) - 1)
    # Offset header (required for cookie 12346).
    pos = len(out) + 4 * size
    for _key, vals in sorted(chunks.items()):
        out += struct.pack("<I", pos)
        pos += 2 * len(vals) if len(vals) <= 4096 else 8192
    for _key, vals in sorted(chunks.items()):
        if len(vals) <= 4096:
            out += struct.pack(f"<{len(vals)}H", *vals)
        else:
            bits = bytearray(8192)
            for v in vals:
                bits[v // 8] |= 1 << (v % 8)
            out += bits
    return bytes(out)


def _serialize_dv(indexes: list[int], force_runs: bool = False) -> bytes:
    """Portable 64-bit RoaringBitmapArray."""
    by_high: dict[int, list[int]] = {}
    for i in sorted(indexes):
        by_high.setdefault(i >> 32, []).append(i & 0xFFFFFFFF)
    out = bytearray(struct.pack("<iq", 1681511377, len(by_high)))
    for high, vals in sorted(by_high.items()):
        out += struct.pack("<I", high)
        out += _serialize_roaring32(vals, force_runs=force_runs)
    return bytes(out)


def _attach_dv_file(tbl: str, rel_path: str, indexes: list[int]) -> None:
    """Write a UUID-named DV .bin (version byte + size/data/crc framing)
    and commit a new version replacing ``rel_path``'s add with one carrying
    the descriptor + the readerFeatures protocol bump."""
    data = _serialize_dv(indexes)
    u = _uuid.uuid4()
    with open(os.path.join(tbl, f"deletion_vector_{u}.bin"), "wb") as fh:
        fh.write(b"\x01")  # format version byte
        offset = 1
        fh.write(struct.pack(">i", len(data)))
        fh.write(data)
        fh.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
    snap = DeltaTable(tbl).snapshot
    add = dict(snap.files[rel_path])
    add["path"] = rel_path
    add["deletionVector"] = {
        "storageType": "u",
        "pathOrInlineDv": z85_encode(u.bytes),
        "offset": offset,
        "sizeInBytes": len(data),
        "cardinality": len(indexes),
    }
    add["dataChange"] = False
    log = os.path.join(tbl, "_delta_log")
    v = snap.version + 1
    with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        }}) + "\n")
        fh.write(json.dumps({"remove": {
            "path": rel_path, "deletionTimestamp": 0, "dataChange": False,
        }}) + "\n")
        fh.write(json.dumps({"add": add}) + "\n")


# ------------------------------------------------------------- unit level
def test_z85_roundtrip():
    for payload in (b"\x00" * 16, bytes(range(16)), b"\xff" * 4):
        assert z85_decode(z85_encode(payload)) == payload
    # Reference vector from the Z85 spec (ZeroMQ RFC 32).
    assert z85_encode(bytes.fromhex("864fd26fb559f75b")) == "HelloWorld"


def test_roaring_roundtrip_array_bitmap_and_run_containers():
    # Array container (small), bitmap container (>4096 in one chunk),
    # run container, and a second 32-bit bitmap (high key).
    small = [1, 5, 7, 65536 + 3]
    big = list(range(100_000, 104_200))  # 4200 values -> bitmap container
    high = [(1 << 32) | 42, (1 << 32) | 43]
    assert parse_roaring_bitmap_array(_serialize_dv(small)) == sorted(small)
    assert parse_roaring_bitmap_array(_serialize_dv(big)) == big
    assert parse_roaring_bitmap_array(_serialize_dv(high)) == sorted(high)
    runs = [10, 11, 12, 13, 50, 51, 52]
    assert parse_roaring_bitmap_array(
        _serialize_dv(runs, force_runs=True)
    ) == runs


def test_inline_dv_descriptor(tmp_path):
    idx = [0, 2, 9]
    data = _serialize_dv(idx)
    pad = (-len(data)) % 4
    desc = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(data + b"\x00" * pad),
        "sizeInBytes": len(data),
        "cardinality": 3,
    }
    assert read_deletion_vector(str(tmp_path), desc) == idx


def test_dv_cardinality_mismatch_raises(tmp_path):
    data = _serialize_dv([1, 2])
    pad = (-len(data)) % 4
    desc = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(data + b"\x00" * pad),
        "sizeInBytes": len(data),
        "cardinality": 5,
    }
    with pytest.raises(ValueError, match="cardinality"):
        read_deletion_vector(str(tmp_path), desc)


# ------------------------------------------------------------ table level
def test_read_table_with_deletion_vector(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(1)
    write_delta(df, tbl)
    snap = DeltaTable(tbl).snapshot
    (rel,) = snap.files
    _attach_dv_file(tbl, rel, [0, 7, 99])
    got = read_delta(spark, tbl)
    assert got.count() == 97
    ids = {r.id for r in got.collect()}
    assert ids == set(range(100)) - {0, 7, 99}
    # Time travel BEFORE the DV commit still sees every row.
    assert read_delta(spark, tbl, version=0).count() == 100
    # Appending to a DV table is legal (new files never disturb existing
    # DVs) and must not resurrect the deleted rows.
    write_delta(spark.range(100, 110).selectExpr("id", "id * 2 AS v"), tbl,
                mode="append")
    assert read_delta(spark, tbl).count() == 107


def test_dv_on_partitioned_table_and_multiple_files(spark, tmp_path):
    tbl = str(tmp_path / "p")
    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b") for i in range(100)], "id int, k string"
    ).coalesce(1)
    write_delta(df, tbl, partition_by=["k"])
    snap = DeltaTable(tbl).snapshot
    rel_a = next(r for r in snap.files if "k=a" in r)
    _attach_dv_file(tbl, rel_a, [0, 1, 2])  # first three rows of k=a file
    got = read_delta(spark, tbl)
    assert got.count() == 97
    assert got.filter("k = 'b'").count() == 50
    assert got.filter("k = 'a'").count() == 47


# ---------------------------------------------------------- DV write path
def test_dv_delete_writes_vector_not_files(spark, tmp_path):
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "mor")
    write_delta(spark.range(1000).selectExpr("id", "id % 7 AS k").coalesce(2), tbl)
    files_before = set(DeltaTable(tbl).snapshot.files)
    m = delete_delta(spark, tbl, "id % 100 = 0", mode="dv")
    assert m["numDeletedRows"] == 10
    assert m["numDeletionVectorsAdded"] >= 1
    snap = DeltaTable(tbl).snapshot
    # Same data files, now carrying DV descriptors; nothing rewritten.
    assert set(snap.files) == files_before
    assert all(
        a.get("deletionVector")
        for a in snap.files.values()
        if json.loads(a["stats"])["numRecords"]
    ) or any(a.get("deletionVector") for a in snap.files.values())
    got = read_delta(spark, tbl)
    assert got.count() == 990
    assert got.filter("id % 100 = 0").count() == 0
    # Protocol upgraded like delta-spark's first DV commit.
    assert snap.min_writer_version == 7
    assert "deletionVectors" in snap.writer_features
    # Time travel to v0 sees all rows.
    assert read_delta(spark, tbl, version=0).count() == 1000
    # Stats flagged wide on DV'd adds.
    for a in snap.files.values():
        if a.get("deletionVector"):
            assert json.loads(a["stats"])["tightBounds"] is False


def test_dv_delete_merges_with_existing_vector(spark, tmp_path):
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "mor2")
    write_delta(spark.range(100).selectExpr("id").coalesce(1), tbl)
    delete_delta(spark, tbl, "id < 10", mode="dv")
    m2 = delete_delta(spark, tbl, "id >= 90", mode="dv")
    assert m2["numDeletedRows"] == 10
    got = read_delta(spark, tbl)
    assert got.count() == 80
    assert {r.id for r in got.collect()} == set(range(10, 90))
    snap = DeltaTable(tbl).snapshot
    (add,) = snap.files.values()
    assert add["deletionVector"]["cardinality"] == 20


def test_cow_update_on_dv_table_purges_vector(spark, tmp_path):
    from ballista_delta_spark.sources.delta_dml import delete_delta, update_delta

    tbl = str(tmp_path / "mix")
    write_delta(spark.range(100).selectExpr("id", "id AS v").coalesce(1), tbl)
    delete_delta(spark, tbl, "id < 50", mode="dv")
    m = update_delta(spark, tbl, "id >= 90", {"v": "v + 1000"})
    assert m["numUpdatedRows"] == 10
    got = read_delta(spark, tbl)
    # Deleted rows stay deleted through the rewrite; updates applied.
    assert got.count() == 50
    assert got.filter("id < 50").count() == 0
    assert got.filter("v >= 1000").count() == 10
    # The rewritten file replaced the DV'd one: no DV remains.
    snap = DeltaTable(tbl).snapshot
    assert not any(a.get("deletionVector") for a in snap.files.values())


def test_optimize_purges_deletion_vectors(spark, tmp_path):
    from ballista_delta_spark.sources.delta import optimize
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "purge")
    write_delta(spark.range(200).selectExpr("id").coalesce(2), tbl)
    delete_delta(spark, tbl, "id % 2 = 0", mode="dv")
    assert read_delta(spark, tbl).count() == 100
    v = optimize(spark, tbl)
    snap = DeltaTable(tbl).snapshot
    assert snap.version == v
    assert not any(a.get("deletionVector") for a in snap.files.values())
    got = read_delta(spark, tbl)
    assert got.count() == 100
    assert got.filter("id % 2 = 0").count() == 0
    # The remove actions named the retired DVs (spec: vacuum bookkeeping).
    with open(os.path.join(tbl, "_delta_log", f"{v:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh]
    rm_dvs = [a["remove"].get("deletionVector") for a in acts if "remove" in a]
    assert any(rm_dvs)


def test_dv_delete_refused_on_append_only(spark, tmp_path):
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "ao")
    write_delta(spark.range(10), tbl)
    log = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    with open(log) as fh:
        acts = [json.loads(line) for line in fh]
    for a in acts:
        if "metaData" in a:
            a["metaData"]["configuration"] = {"delta.appendOnly": "true"}
    with open(log, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in acts)
    with pytest.raises(ValueError, match="appendOnly|append-only"):
        delete_delta(spark, tbl, "id = 1", mode="dv")


def test_vacuum_removes_orphaned_dv_bins(spark, tmp_path):
    import glob

    from ballista_delta_spark.sources.delta import optimize, vacuum
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "vac")
    # Two data files: OPTIMIZE early-returns on single-file tables, and the
    # point here is that compaction orphans the bins.
    write_delta(spark.range(100).selectExpr("id").coalesce(2), tbl)
    delete_delta(spark, tbl, "id < 10", mode="dv")
    assert len(glob.glob(os.path.join(tbl, "deletion_vector_*.bin"))) == 1
    # A second DV delete supersedes the first .bin; OPTIMIZE purges DVs
    # entirely -> both bins are orphans afterwards.
    delete_delta(spark, tbl, "id >= 95", mode="dv")
    optimize(spark, tbl)
    assert len(glob.glob(os.path.join(tbl, "deletion_vector_*.bin"))) == 2
    # Inside the retention window nothing is touched...
    vacuum(tbl)
    assert len(glob.glob(os.path.join(tbl, "deletion_vector_*.bin"))) == 2
    # ...outside it the orphaned bins go; live data is intact.
    removed = vacuum(tbl, retention_ms=0)
    assert len(glob.glob(os.path.join(tbl, "deletion_vector_*.bin"))) == 0
    assert any(r.startswith("deletion_vector_") for r in removed)
    assert read_delta(spark, tbl).count() == 85


def test_dv_bitsets_built_without_row_decode_at_scale(spark, tmp_path, monkeypatch):
    """The 100-TB-scale contract of the apply path: no process expands a
    DV into its per-row index list. Proven by breaking the row decoders
    in the driver process, with a DV big enough (2^19 indexes) that a
    per-row expansion would also be a visible memory event: the driver
    builds one bitset per touched 65,536-row container straight from the
    serialized containers, so the relation it ships has at most 16 rows
    for a 2^20-row file."""
    from ballista_delta_spark.sources import dv as dv_mod

    tbl = str(tmp_path / "big")
    # 2^20 physical rows in one file; delete every even row via a DV.
    write_delta(
        spark.range(1 << 20).selectExpr("id").coalesce(1), tbl
    )
    (rel,) = DeltaTable(tbl).snapshot.files
    deleted = list(range(0, 1 << 20, 2))
    _attach_dv_file(tbl, rel, deleted)

    def driver_must_not_expand(data):
        raise AssertionError(
            "roaring row decoder called — the DV read path must build "
            "bitsets from the containers, never expand row indexes"
        )

    monkeypatch.setattr(
        dv_mod, "parse_roaring_bitmap_array", driver_must_not_expand
    )
    monkeypatch.setattr(dv_mod, "roaring_indexes", driver_must_not_expand)
    _, bits = DeltaTable(tbl)._dv_parts(spark)
    assert bits.count() <= 16
    got = read_delta(spark, tbl)
    assert got.count() == (1 << 20) - len(deleted)
    # Spot-check values, not just counts: all survivors are odd.
    assert got.filter("id % 2 = 0").count() == 0


def _plan_nodes(plan):
    """Every node of a JVM physical plan, depth first."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    children = plan.children()
    out = [plan]
    for i in range(children.size()):
        out += _plan_nodes(children.apply(i))
    return out


def test_dv_read_plans_no_python_node_and_no_shuffle(spark, tmp_path):
    """A small-DV read is one parquet scan joined to a broadcast local
    relation of bitsets: no Python node (the DV apply needs no Python
    worker) and no shuffle Exchange in the executed plan."""
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "t")
    write_delta(spark.range(0, 300, 1, 3).selectExpr("id"), tbl)
    delete_delta(spark, tbl, "id % 7 = 0", mode="dv")
    df = read_delta(spark, tbl)
    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
    names = [n.nodeName() for n in nodes]
    python_nodes = [
        n for n in names
        if n in (
            "MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
            "BatchEvalPython",
        )
    ] + [
        n.nodeName() for n in nodes
        if n.getClass().getName().startswith(
            "org.apache.spark.sql.execution.python."
        )
    ]
    assert not python_nodes, names
    assert not [n for n in names if n.endswith("Exchange")
                and n != "BroadcastExchange"], names
    assert "BroadcastHashJoin" in names, names
    assert sorted(r.id for r in df.collect()) == [
        i for i in range(300) if i % 7
    ]


def test_dv_bitset_join_shuffles_past_broadcast_threshold(spark):
    """The bitset relation's join strategy follows its true size (8 KiB
    per container), not the planner's one-element estimate of an array:
    under the threshold it broadcasts, past it the join is a shuffle
    join on (file key, row_index >> 16). Planned only, never run."""
    from ballista_delta_spark.sources.delta import (
        _dv_bitset_relation, _drop_deleted,
    )

    dvs = [(f"/t/part-{i}.parquet", _serialize_dv([i, i + 7]), 2)
           for i in range(3)]
    scan = spark.range(10).selectExpr(
        "'/t/part-0.parquet' AS __src_fp", "id AS __src_ri"
    )

    def plan():
        joined = _drop_deleted(scan, _dv_bitset_relation(spark, dvs))
        return joined._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in plan()
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(3 * 8192))  # below three containers' bytes
    try:
        p = plan()
        assert "ShuffledHashJoin" in p and "Broadcast" not in p
    finally:
        spark.conf.set(key, old)
    rows = _dv_bitset_relation(spark, dvs).collect()
    assert sorted((r["__src_fp"], r["__hi"]) for r in rows) == [
        (fp, 0) for fp, _, _ in dvs
    ]
    assert all(len(r["__w"]) == 1024 for r in rows)


def test_truncated_or_malformed_dv_raises_value_error():
    """Every cut of a serialized DV is a ValueError (the module's error
    contract), never struct.error — inline DVs carry no CRC, so a short
    buffer reaches the decoder. So are a run reaching past its 16-bit
    key and a container count larger than the buffer."""
    small = _serialize_dv([1, 5, 7, 65536 + 3])
    # 6: inside the bitmap count; 14: inside the first key; 20: inside
    # the container count; len-4: inside the last array container.
    for cut in (6, 14, 20, len(small) - 4):
        with pytest.raises(ValueError, match="truncated"):
            parse_roaring_bitmap_array(small[:cut])
    bitmap = _serialize_dv(list(range(5000)))  # one bitmap container
    with pytest.raises(ValueError, match="truncated"):
        parse_roaring_bitmap_array(bitmap[:-100])
    runs = _serialize_dv([10, 11, 12, 50], force_runs=True)
    with pytest.raises(ValueError, match="truncated"):
        parse_roaring_bitmap_array(runs[:-2])
    # Last run (50, length-1 0) rewritten to (65535, 1): 65535..65536.
    with pytest.raises(ValueError, match="overflows"):
        parse_roaring_bitmap_array(runs[:-4] + struct.pack("<HH", 65535, 1))
    # Container count 2^32-1 where the buffer holds one container.
    huge = small[:16] + struct.pack("<II", 12346, 0xFFFFFFFF) + small[24:]
    with pytest.raises(ValueError, match="truncated"):
        parse_roaring_bitmap_array(huge)


def test_dv_protocol_upgrade_preserves_declared_features(spark, tmp_path):
    """The first DV commit on a table already at reader v3 must emit the
    UNION of the declared readerFeatures plus deletionVectors — dropping
    e.g. timestampNtz would make other engines misread the table."""
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "feat")
    write_delta(spark.range(20).selectExpr("id").coalesce(1), tbl)
    snap = DeltaTable(tbl).snapshot
    log = os.path.join(tbl, "_delta_log")
    with open(os.path.join(log, f"{snap.version + 1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz", "v2Checkpoint"],
            "writerFeatures": ["timestampNtz", "appendOnly", "invariants"],
        }}) + "\n")
    delete_delta(spark, tbl, "id < 5", mode="dv")
    after = DeltaTable(tbl).snapshot
    assert set(after.reader_features) >= {
        "timestampNtz", "v2Checkpoint", "deletionVectors"
    }
    assert set(after.writer_features) >= {
        "timestampNtz", "appendOnly", "invariants", "deletionVectors"
    }
    assert after.min_reader_version == 3 and after.min_writer_version == 7


def test_dv_protocol_upgrade_enumerates_legacy_features(spark, tmp_path):
    """Upgrading a legacy (1,2) table to (3,7) must enumerate the features
    the old writer version number implied (appendOnly, invariants), per
    PROTOCOL.md — or other engines lose those gates."""
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "legacy")
    write_delta(spark.range(20).selectExpr("id").coalesce(1), tbl)
    assert DeltaTable(tbl).snapshot.min_writer_version == 2
    delete_delta(spark, tbl, "id < 5", mode="dv")
    after = DeltaTable(tbl).snapshot
    assert set(after.writer_features) >= {
        "appendOnly", "invariants", "deletionVectors"
    }
    assert after.reader_features == ["deletionVectors"]



def _set_config(tbl: str, cfg: dict) -> None:
    log0 = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    with open(log0) as fh:
        acts = [json.loads(ln) for ln in fh]
    for a in acts:
        if "metaData" in a:
            a["metaData"]["configuration"] = cfg
        if "protocol" in a and "delta.enableChangeDataFeed" in cfg:
            a["protocol"] = {"minReaderVersion": 1, "minWriterVersion": 4}
    with open(log0, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in acts)


# --------------------------------------------------- DV UPDATE and MERGE
def test_dv_update_writes_vector_and_appends(spark, tmp_path):
    from ballista_delta_spark.sources.delta_dml import update_delta

    tbl = str(tmp_path / "updv")
    write_delta(
        spark.range(1000).selectExpr("id", "id % 7 AS k").coalesce(2), tbl
    )
    files_before = set(DeltaTable(tbl).snapshot.files)
    m = update_delta(spark, tbl, "id % 100 = 0", {"k": "k + 100"}, mode="dv")
    assert m["numUpdatedRows"] == 10
    assert m["numDeletionVectorsAdded"] >= 1
    assert m["numAddedFiles"] >= 1
    snap = DeltaTable(tbl).snapshot
    # Original data files all still present (DV'd, not rewritten) plus the
    # appended post-image file(s).
    assert files_before <= set(snap.files)
    assert any(a.get("deletionVector") for a in snap.files.values())
    got = read_delta(spark, tbl)
    assert got.count() == 1000
    assert got.filter("id % 100 = 0").filter("k < 100").count() == 0
    assert got.filter("id = 300").collect()[0].k == 300 % 7 + 100
    # Untouched rows intact.
    assert got.filter("id = 5").collect()[0].k == 5 % 7
    # Protocol upgraded; time travel sees pre-update values.
    assert snap.min_writer_version == 7
    assert "deletionVectors" in snap.writer_features
    assert read_delta(spark, tbl, version=0).filter(
        "id = 300 AND k = 300 % 7"
    ).count() == 1


def test_dv_update_merges_with_existing_vector(spark, tmp_path):
    from ballista_delta_spark.sources.delta_dml import (
        delete_delta,
        update_delta,
    )

    tbl = str(tmp_path / "updv2")
    write_delta(spark.range(100).selectExpr("id", "id AS v").coalesce(1), tbl)
    delete_delta(spark, tbl, "id < 10", mode="dv")
    m = update_delta(spark, tbl, "id >= 90", {"v": "v * 2"}, mode="dv")
    assert m["numUpdatedRows"] == 10
    got = read_delta(spark, tbl)
    assert got.count() == 90
    assert got.filter("id >= 90 AND v = id * 2").count() == 10
    assert got.filter("id < 10").count() == 0
    # A second DV update re-marks POST-IMAGE rows (they live in the
    # appended file), never double-deletes.
    m2 = update_delta(spark, tbl, "id >= 90", {"v": "v + 1"}, mode="dv")
    assert m2["numUpdatedRows"] == 10
    got2 = read_delta(spark, tbl)
    assert got2.filter("id >= 90 AND v = id * 2 + 1").count() == 10
    assert got2.count() == 90


def test_dv_merge_updates_deletes_inserts(spark, tmp_path):
    from ballista_delta_spark.sources.delta_dml import merge_delta

    tbl = str(tmp_path / "mgdv")
    write_delta(
        spark.range(100).selectExpr("id", "id AS v").coalesce(2), tbl
    )
    files_before = set(DeltaTable(tbl).snapshot.files)
    src = spark.createDataFrame(
        [(5, 500), (6, 600), (200, 2000), (7, -1)], "id long, v long"
    )
    m = merge_delta(
        spark, tbl, src, "t.id = s.id",
        matched_clauses=[
            ("s.v < 0", "delete", None),
            (None, "update", {"v": "s.v"}),
        ],
        not_matched_clauses=[(None, True)],
        mode="dv",
    )
    assert m["numTargetRowsUpdated"] == 2
    assert m["numTargetRowsDeleted"] == 1
    assert m["numTargetRowsInserted"] == 1
    assert m["numDeletionVectorsAdded"] >= 1
    snap = DeltaTable(tbl).snapshot
    assert files_before <= set(snap.files)  # nothing rewritten
    got = read_delta(spark, tbl)
    assert got.count() == 100  # 100 - 1 deleted + 1 inserted
    rows = {r.id: r.v for r in got.collect()}
    assert rows[5] == 500 and rows[6] == 600
    assert 7 not in rows
    assert rows[200] == 2000
    assert rows[8] == 8  # untouched


def test_dv_merge_ambiguous_raises(spark, tmp_path):
    from ballista_delta_spark.sources.delta_dml import merge_delta

    tbl = str(tmp_path / "mgdvamb")
    write_delta(spark.range(10).selectExpr("id", "id AS v").coalesce(1), tbl)
    src = spark.createDataFrame(
        [(5, 1), (5, 2)], "id long, v long"
    )
    with pytest.raises(ValueError, match="ambiguous"):
        merge_delta(
            spark, tbl, src, "t.id = s.id",
            matched_update={"v": "s.v"}, not_matched_insert=False,
            mode="dv",
        )


def test_dv_update_emits_cdf(spark, tmp_path):
    from ballista_delta_spark.sources.delta import read_delta_changes
    from ballista_delta_spark.sources.delta_dml import update_delta

    tbl = str(tmp_path / "updvcdf")
    write_delta(
        spark.range(20).selectExpr("id", "id AS v").coalesce(1), tbl
    )
    _set_config(tbl, {"delta.enableChangeDataFeed": "true"})
    v0 = DeltaTable(tbl).version
    update_delta(spark, tbl, "id < 3", {"v": "v + 100"}, mode="dv")
    ch = read_delta_changes(spark, tbl, v0).collect()
    kinds = sorted(r["_change_type"] for r in ch)
    assert kinds == ["update_postimage"] * 3 + ["update_preimage"] * 3
    post = {r.id: r.v for r in ch if r["_change_type"] == "update_postimage"}
    assert post == {0: 100, 1: 101, 2: 102}


def test_dv_merge_emits_cdf_including_inserts(spark, tmp_path):
    from ballista_delta_spark.sources.delta import read_delta_changes
    from ballista_delta_spark.sources.delta_dml import merge_delta

    tbl = str(tmp_path / "mgdvcdf")
    write_delta(
        spark.range(10).selectExpr("id", "id AS v").coalesce(1), tbl
    )
    _set_config(tbl, {"delta.enableChangeDataFeed": "true"})
    v0 = DeltaTable(tbl).version
    src = spark.createDataFrame([(3, 300), (50, 5000)], "id long, v long")
    merge_delta(
        spark, tbl, src, "t.id = s.id",
        matched_update={"v": "s.v"}, not_matched_insert=True, mode="dv",
    )
    ch = read_delta_changes(spark, tbl, v0).collect()
    by_kind: dict[str, list] = {}
    for r in ch:
        by_kind.setdefault(r["_change_type"], []).append((r.id, r.v))
    assert by_kind["update_preimage"] == [(3, 3)]
    assert by_kind["update_postimage"] == [(3, 300)]
    assert by_kind["insert"] == [(50, 5000)]


def test_dv_merge_refused_on_append_only(spark, tmp_path):
    from ballista_delta_spark.sources.delta_dml import merge_delta

    tbl = str(tmp_path / "mgdvao")
    write_delta(
        spark.range(10).selectExpr("id", "id AS v").coalesce(1), tbl
    )
    _set_config(tbl, {"delta.appendOnly": "true"})
    src = spark.createDataFrame([(1, 10)], "id long, v long")
    with pytest.raises(ValueError, match="appendOnly|append-only"):
        merge_delta(
            spark, tbl, src, "t.id = s.id",
            matched_update={"v": "s.v"}, not_matched_insert=False,
            mode="dv",
        )


def test_reorg_purge_rewrites_only_dv_files(spark, tmp_path):
    from ballista_delta_spark.sources.delta import reorg_purge
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "reorg")
    # two files; the DELETE below only touches rows in one of them
    write_delta(spark.range(200).selectExpr("id").repartitionByRange(2, "id"), tbl)
    files_v0 = dict(DeltaTable(tbl).snapshot.files)
    assert len(files_v0) == 2
    delete_delta(spark, tbl, "id < 10", mode="dv")
    snap = DeltaTable(tbl).snapshot
    dv_files = {r for r, a in snap.files.items() if a.get("deletionVector")}
    clean_files = set(snap.files) - dv_files
    assert dv_files and clean_files

    m = reorg_purge(spark, tbl)
    assert m["numFilesRewritten"] == len(dv_files)
    after = DeltaTable(tbl).snapshot
    assert after.version == m["version"]
    # no active file carries a DV any more
    assert not any(a.get("deletionVector") for a in after.files.values())
    # files WITHOUT DVs were not touched
    assert clean_files <= set(after.files)
    assert not (dv_files & set(after.files))
    got = read_delta(spark, tbl)
    assert got.count() == 190
    assert got.filter("id < 10").count() == 0
    # REORG is dataChange=false end to end (stream-invisible)
    with open(os.path.join(tbl, "_delta_log", f"{m['version']:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh]
    assert all(
        not a["add"]["dataChange"] for a in acts if "add" in a
    ) and all(
        not a["remove"]["dataChange"] for a in acts if "remove" in a
    )
    # the retired DVs are named on the removes for VACUUM bookkeeping
    assert any(a["remove"].get("deletionVector") for a in acts if "remove" in a)


def test_reorg_purge_noop_without_dvs(spark, tmp_path):
    from ballista_delta_spark.sources.delta import reorg_purge

    tbl = str(tmp_path / "reorg_noop")
    write_delta(spark.range(10).selectExpr("id"), tbl)
    v_before = DeltaTable(tbl).snapshot.version
    m = reorg_purge(spark, tbl)
    assert m == {
        "version": v_before, "numFilesRewritten": 0, "numFilesAdded": 0,
    }
    assert DeltaTable(tbl).snapshot.version == v_before  # no commit


def test_reorg_purge_sql_ddl_and_vacuum(spark, tmp_path):
    from ballista_delta_spark.session import sql as bd_sql
    from ballista_delta_spark.sources.delta import vacuum
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "reorg_sql")
    write_delta(
        spark.range(100).selectExpr("id", "CAST(id % 2 AS INT) AS p"),
        tbl, partition_by=["p"],
    )
    delete_delta(spark, tbl, "id % 10 = 0", mode="dv")
    assert glob.glob(os.path.join(tbl, "deletion_vector*.bin"))
    bd_sql(
        spark,
        f"CREATE EXTERNAL TABLE reorg_sql_t STORED AS DELTA LOCATION '{tbl}'",
    )
    out = bd_sql(spark, "REORG TABLE reorg_sql_t APPLY (PURGE)").collect()[0]
    assert out["files_rewritten"] >= 1
    got = spark.table("reorg_sql_t")
    assert got.count() == 90
    # partition values survive the rewrite (deleted ids are all even → p=0)
    assert got.filter("p = 1").count() == 50
    assert got.filter("p = 0").count() == 40
    # after REORG + VACUUM(0) the DV bins are reclaimable
    vacuum(tbl, retention_ms=0)
    assert not glob.glob(os.path.join(tbl, "deletion_vector*.bin"))
    spark.catalog.dropTempView("reorg_sql_t")


def test_compact_dv_bins_packs_many_bins_into_one(spark, tmp_path):
    """N point-DML commits against DIFFERENT files leave N live bins
    (each commit packs only the DVs of the files IT touched); the
    compaction pass re-points every active descriptor into ONE bin with
    bitmaps, rows, and history unchanged (VERDICT r10 #8)."""
    from ballista_delta_spark.sources.delta import (
        compact_deletion_vectors, vacuum,
    )
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "dvpack")
    write_delta(
        spark.range(400).selectExpr("id", "CAST(id % 4 AS INT) AS p"),
        tbl, partition_by=["p"],
    )
    # three deletes, each confined to a different partition's file
    for p in (0, 1, 2):
        delete_delta(spark, tbl, f"p = {p} AND id < {100 + p}", mode="dv")
    snap = DeltaTable(tbl).snapshot
    live_bins = {
        z85_decode(a["deletionVector"]["pathOrInlineDv"])
        for a in snap.files.values() if a.get("deletionVector")
    }
    assert len(live_bins) == 3
    v_before = snap.version
    rows_before = sorted(r.id for r in read_delta(spark, tbl).collect())

    n_dvd = sum(1 for a in snap.files.values() if a.get("deletionVector"))
    m = compact_deletion_vectors(tbl)
    assert m["numBinsBefore"] == 3 and m["numBinsAfter"] == 1
    assert m["numFilesRepointed"] == n_dvd >= 3
    after = DeltaTable(tbl).snapshot
    assert after.version == m["version"] == v_before + 1
    live_after = {
        z85_decode(a["deletionVector"]["pathOrInlineDv"])
        for a in after.files.values() if a.get("deletionVector")
    }
    assert len(live_after) == 1
    # cardinalities preserved per file; data files untouched
    assert set(after.files) == set(snap.files)
    for rel, a in snap.files.items():
        old_dv = a.get("deletionVector")
        new_dv = after.files[rel].get("deletionVector")
        assert bool(old_dv) == bool(new_dv)
        if old_dv:
            assert new_dv["cardinality"] == old_dv["cardinality"]
    # rows identical, now and via time travel to the pre-compaction version
    assert sorted(r.id for r in read_delta(spark, tbl).collect()) == rows_before
    assert sorted(
        r.id for r in read_delta(spark, tbl, version=v_before).collect()
    ) == rows_before
    # the commit is dataChange=false end to end (stream/CDF-invisible)
    with open(os.path.join(tbl, "_delta_log", f"{m['version']:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh]
    assert all(not a["add"]["dataChange"] for a in acts if "add" in a)
    assert all(not a["remove"]["dataChange"] for a in acts if "remove" in a)
    # superseded bins stay until VACUUM, then only the packed bin lives
    assert len(glob.glob(os.path.join(tbl, "deletion_vector_*.bin"))) == 4
    vacuum(tbl, retention_ms=0)
    assert len(glob.glob(os.path.join(tbl, "deletion_vector_*.bin"))) == 1
    assert sorted(r.id for r in read_delta(spark, tbl).collect()) == rows_before
    # idempotent: a second pass is a metadata no-op (no commit)
    m2 = compact_deletion_vectors(tbl)
    assert m2["version"] == m["version"] and m2["numFilesRepointed"] == 0


def test_compact_dv_bins_noop_on_single_file_history(spark, tmp_path):
    """N successive DV deletes against ONE file merge into one
    descriptor per commit, so at most one bin is ever live — the pass
    must recognize that and not commit."""
    from ballista_delta_spark.sources.delta import compact_deletion_vectors
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "dvpack1")
    write_delta(spark.range(100).selectExpr("id").coalesce(1), tbl)
    for lo in (0, 10, 20):
        delete_delta(spark, tbl, f"id >= {lo} AND id < {lo + 5}", mode="dv")
    snap = DeltaTable(tbl).snapshot
    live_bins = {
        a["deletionVector"]["pathOrInlineDv"]
        for a in snap.files.values() if a.get("deletionVector")
    }
    assert len(live_bins) == 1  # merged per commit: never more than one
    m = compact_deletion_vectors(tbl)
    assert m["version"] == snap.version  # no commit
    assert m["numBinsBefore"] == 1 and m["numFilesRepointed"] == 0
    assert read_delta(spark, tbl).count() == 85


def test_compact_dv_bins_on_shallow_clone_p_descriptors(spark, tmp_path):
    """A shallow clone re-roots DVs to absolute storageType='p'
    descriptors pointing at the SOURCE's bins. Compacting the clone must
    key bin identity on the verbatim path (not the 'u' UUID decode),
    write the packed bin into the CLONE's dir, and leave the source
    untouched (review finding, r11)."""
    from ballista_delta_spark.sources.delta import (
        clone_delta, compact_deletion_vectors,
    )
    from ballista_delta_spark.sources.delta_dml import delete_delta

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    # unpartitioned keeps this pin focused on 'p'-descriptor bin
    # identity; partitioned-clone DV reads have their own test
    # (test_dv_reads_on_partitioned_shallow_clone)
    write_delta(
        spark.range(200).selectExpr("id").repartitionByRange(2, "id"), src,
    )
    delete_delta(spark, src, "id < 10", mode="dv")
    delete_delta(spark, src, "id >= 190", mode="dv")
    src_bins = sorted(glob.glob(os.path.join(src, "deletion_vector_*.bin")))
    assert len(src_bins) == 2
    clone_delta(src, dst)
    snap = DeltaTable(dst).snapshot
    assert {
        a["deletionVector"]["storageType"]
        for a in snap.files.values() if a.get("deletionVector")
    } == {"p"}
    rows_before = sorted(r.id for r in read_delta(spark, dst).collect())

    m = compact_deletion_vectors(dst)
    assert m["numBinsBefore"] == 2 and m["numBinsAfter"] == 1
    # packed bin lives in the CLONE; the source's bins are untouched
    assert len(glob.glob(os.path.join(dst, "deletion_vector_*.bin"))) == 1
    assert sorted(
        glob.glob(os.path.join(src, "deletion_vector_*.bin"))
    ) == src_bins
    after = DeltaTable(dst).snapshot
    assert {
        a["deletionVector"]["storageType"]
        for a in after.files.values() if a.get("deletionVector")
    } == {"u"}
    assert sorted(r.id for r in read_delta(spark, dst).collect()) == rows_before
    assert read_delta(spark, src).count() == 180  # source unaffected


def test_dv_reads_on_partitioned_shallow_clone(spark, tmp_path):
    """A shallow clone of a PARTITIONED DV table is the protocol's
    canonical non-Hive layout (abs-path references under the source's
    roots). The union fallback attaches per-branch location columns and
    applies the DV anti-join ONCE above the union (one bitmap-decode job
    per query), so the clone reads the same live rows as the
    source — previously this raised 'deletion vectors on a non-Hive
    partition layout are not supported' (r11)."""
    from ballista_delta_spark.sources.delta import clone_delta
    from ballista_delta_spark.sources.delta_dml import delete_delta

    src = str(tmp_path / "psrc")
    dst = str(tmp_path / "pclone")
    write_delta(
        spark.range(200).selectExpr("id", "CAST(id % 2 AS INT) AS p"),
        src, partition_by=["p"],
    )
    delete_delta(spark, src, "p = 0 AND id < 10", mode="dv")
    delete_delta(spark, src, "p = 1 AND id < 10", mode="dv")
    src_rows = sorted(
        tuple(r) for r in read_delta(spark, src).collect()
    )
    assert len(src_rows) == 190
    clone_delta(src, dst)
    got = read_delta(spark, dst)
    assert sorted(tuple(r) for r in got.collect()) == src_rows
    assert got.filter("id < 10").count() == 0
    assert got.filter("p = 1").count() == 95
    # ...and the metadata-only DV bin compaction composes on top
    from ballista_delta_spark.sources.delta import compact_deletion_vectors

    m = compact_deletion_vectors(dst)
    assert m["numBinsBefore"] == 2 and m["numBinsAfter"] == 1
    assert sorted(
        tuple(r) for r in read_delta(spark, dst).collect()
    ) == src_rows


def test_compact_dv_bins_sql_ddl(spark, tmp_path):
    from ballista_delta_spark.session import sql as bd_sql
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "dvpack_sql")
    write_delta(
        spark.range(200).selectExpr("id", "CAST(id % 2 AS INT) AS p"),
        tbl, partition_by=["p"],
    )
    delete_delta(spark, tbl, "p = 0 AND id < 10", mode="dv")
    delete_delta(spark, tbl, "p = 1 AND id < 10", mode="dv")
    bd_sql(
        spark,
        f"CREATE EXTERNAL TABLE dvpack_sql_t STORED AS DELTA LOCATION '{tbl}'",
    )
    out = bd_sql(
        spark,
        "REORG TABLE dvpack_sql_t APPLY (COMPACT DELETION VECTORS)",
    ).collect()[0]
    assert out["files_rewritten"] == 2
    got = spark.table("dvpack_sql_t")
    assert got.count() == 190
    assert got.filter("id < 10").count() == 0
    spark.catalog.dropTempView("dvpack_sql_t")


def test_drop_feature_deletion_vectors_lifecycle(spark, tmp_path):
    """Full DV lifecycle: DV DELETE -> REORG PURGE -> DROP FEATURE
    TRUNCATE HISTORY -> feature gone from both protocol lists."""
    from ballista_delta_spark.sources.delta import (
        _load_snapshot,
        drop_feature,
        reorg_purge,
    )
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "lifecycle")
    write_delta(spark.range(100).selectExpr("id").coalesce(1), tbl)
    delete_delta(spark, tbl, "id < 10", mode="dv")
    # active DV -> refuse
    with pytest.raises(ValueError, match="REORG"):
        drop_feature(tbl, "deletionVectors")
    reorg_purge(spark, tbl)
    # history still carries DV commits -> refuse without TRUNCATE HISTORY
    with pytest.raises(ValueError, match="truncate_history"):
        drop_feature(tbl, "deletionVectors")
    v = drop_feature(tbl, "deletionVectors", truncate_history=True)
    snap = _load_snapshot(tbl)
    assert snap.version == v
    assert "deletionVectors" not in snap.writer_features
    assert "deletionVectors" not in snap.reader_features
    # table still reads fine (from checkpoint + drop commit)
    assert read_delta(spark, tbl).count() == 90
    # pre-truncation history is gone
    with pytest.raises(Exception):
        read_delta(spark, tbl, version=0)


def test_drop_feature_validation(spark, tmp_path):
    from ballista_delta_spark.sources.delta import (
        alter_column_default,
        alter_columns,
        drop_feature,
    )

    tbl = str(tmp_path / "dropf")
    write_delta(spark.range(5).selectExpr("id").coalesce(1), tbl)
    # legacy-protocol table has no feature lists
    with pytest.raises(ValueError, match="writer v"):
        drop_feature(tbl, "deletionVectors")
    alter_columns(tbl, adds={"note": "string"})
    alter_column_default(tbl, "note", "'x'")
    with pytest.raises(ValueError, match="not declared"):
        drop_feature(tbl, "deletionVectors")
    # a column still declares a default -> refuse
    with pytest.raises(ValueError, match="DROP DEFAULT"):
        drop_feature(tbl, "allowColumnDefaults")
    alter_column_default(tbl, "note", None)
    v = drop_feature(tbl, "allowColumnDefaults", truncate_history=True)
    from ballista_delta_spark.sources.delta import _load_snapshot

    snap = _load_snapshot(tbl)
    assert snap.version == v
    assert "allowColumnDefaults" not in snap.writer_features


def test_drop_feature_sql_ddl(spark, tmp_path):
    from ballista_delta_spark.session import sql as bd_sql
    from ballista_delta_spark.sources.delta import _load_snapshot, reorg_purge
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "dropsql")
    write_delta(spark.range(50).selectExpr("id").coalesce(1), tbl)
    delete_delta(spark, tbl, "id < 5", mode="dv")
    reorg_purge(spark, tbl)
    bd_sql(
        spark,
        f"CREATE EXTERNAL TABLE dropf_t STORED AS DELTA LOCATION '{tbl}'",
    )
    bd_sql(
        spark,
        "ALTER TABLE dropf_t DROP FEATURE deletionVectors TRUNCATE HISTORY",
    )
    snap = _load_snapshot(tbl)
    assert "deletionVectors" not in snap.writer_features
    assert spark.table("dropf_t").count() == 45
    spark.catalog.dropTempView("dropf_t")


def test_restore_resurrects_dv_deleted_rows(spark, tmp_path):
    """RESTORE across a merge-on-read DELETE: the delete re-added the
    SAME file path with a DV attached, so a path-only restore diff sees
    "no change" and silently loses the deleted rows (found by the
    lifecycle model check). The diff must key on (path, DV)."""
    from ballista_delta_spark.sources.delta import (
        read_delta,
        restore_delta,
        verify_checksum,
        write_delta,
    )
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1, 5), (2, 7)], "id int, v int").coalesce(1),
        tbl,
    )
    write_delta(
        spark.createDataFrame([(3, 0)], "id int, v int").coalesce(1),
        tbl,
        mode="append",
    )
    delete_delta(spark, tbl, "v = 0", mode="dv")
    assert sorted(r.id for r in read_delta(spark, tbl).collect()) == [1, 2]
    m = restore_delta(tbl, 1)
    assert m["numRestoredFiles"] == 1, m
    assert sorted(r.id for r in read_delta(spark, tbl).collect()) == [1, 2, 3]
    assert verify_checksum(tbl)["ok"]
    # and restoring forward again to the post-delete state re-applies the DV
    restore_delta(tbl, 2)
    assert sorted(r.id for r in read_delta(spark, tbl).collect()) == [1, 2]
    assert verify_checksum(tbl)["ok"]


def test_restore_refuses_when_target_dv_bin_vacuumed(spark, tmp_path):
    """RESTORE must also guard the target version's deletion-vector BINS.
    A second DV delete on the same file supersedes the first bin; vacuum
    then reaps it while the DATA file stays live — so the path-only
    missing-file guard sees nothing wrong, yet restoring to the first
    DV'd version would commit a table pointing at a deleted bin."""
    import pytest

    from ballista_delta_spark.sources.delta import (
        read_delta,
        restore_delta,
        vacuum,
        write_delta,
    )
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, i % 3) for i in range(30)], "id int, v int"
        ).coalesce(1),
        tbl,
    )
    delete_delta(spark, tbl, "v = 0", mode="dv")  # v1: bin1
    delete_delta(spark, tbl, "v = 1", mode="dv")  # v2: bin2 supersedes bin1
    reaped = vacuum(tbl, retention_ms=0)          # bin1 now unreferenced
    assert any("deletion_vector_" in p for p in reaped), reaped
    with pytest.raises(ValueError, match="vacuumed"):
        restore_delta(tbl, 1)
    # the table itself is untouched and still readable
    assert read_delta(spark, tbl).count() == 10
    # restoring to the DV-free version 0 needs no bins and must succeed
    restore_delta(tbl, 0)
    assert read_delta(spark, tbl).count() == 30


def test_dv_and_row_tracking_on_uri_encodable_path(spark, tmp_path):
    """Tables whose absolute path contains URI-encodable characters must
    behave identically to plain paths. Spark's _metadata.file_path spells
    a space as %20, keeps '+' and spells a literal '%41' as %2541; the
    DV bitset join, the row-id join and DML file attribution all key on
    that spelling. A key that url_decodes ('%2541' -> '%41', or '%41' ->
    'A'), reads '+' as a space, or keeps the 'file:' prefix on one side
    only matches nothing, so deleted rows would stay visible and DML
    would miss its files."""
    from ballista_delta_spark.sources.delta import (
        alter_properties,
        read_delta,
        read_delta_with_row_ids,
        write_delta,
    )
    from ballista_delta_spark.sources.delta_dml import (
        delete_delta,
        merge_delta,
        update_delta,
    )

    root = tmp_path / "enc dir%41"  # space and a literal %41
    tbl = str(root / "t+plus")      # plus
    write_delta(spark.range(0, 20, 1, 2).selectExpr("id"), tbl)
    alter_properties(spark, tbl, {"delta.enableRowTracking": "true"})

    def ids():
        return sorted(r.id for r in read_delta(spark, tbl).collect())

    m = delete_delta(spark, tbl, "id < 5", mode="dv")
    assert m["numDeletedRows"] == 5
    assert ids() == list(range(5, 20))

    update_delta(spark, tbl, "id = 19", {"id": "id + 100"}, mode="dv")
    assert ids() == list(range(5, 19)) + [119]

    with_ids = read_delta_with_row_ids(spark, tbl)
    assert with_ids.select("row_id").distinct().count() == 15

    src = spark.createDataFrame([(6,), (7,), (200,)], "id long")
    m = merge_delta(
        spark, tbl, src, "t.id = s.id", matched_delete=True, mode="dv"
    )
    assert ids() == [5] + list(range(8, 19)) + [119, 200]

    m = delete_delta(spark, tbl, "id IN (8, 119)")  # copy-on-write
    assert m["numDeletedRows"] == 2
    assert ids() == [5] + list(range(9, 19)) + [200]


def test_file_key_matches_hadoop_raw_path(spark):
    """The driver-side file key spells a path exactly as Hadoop's
    ``Path.toUri().getRawPath()`` does, which is what the scan reports
    in ``_metadata.file_path`` after ``file:``: RFC 2396 escapes for
    ASCII ('%' included), non-ASCII letters kept, non-ASCII spaces and
    controls escaped as UTF-8."""
    from ballista_delta_spark.sources.delta import _file_key

    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    for p in [
        "/t/part-0.parquet",
        "/data/odd dir+x%41/t/k=a%3Ab/part-0.parquet",
        "/data/#frag?q;p=1&x=$,@!~*'()/\\\"<>^`|/f",
        "/data/caf\u00e9 \u00fc\u4e2d\U0001f600/f",
        "/data/nb\u00a0sp\u3000ideo\u2028ls\x85nel\x9fc/f",
        "/data/\x01ctl\x7fdel\ttab/f",
    ]:
        assert _file_key(p) == hadoop_path(p).toUri().getRawPath(), p


def test_vacuum_counts_dv_bin_retention_from_supersession(spark, tmp_path):
    """A bin superseded INSIDE the retention window must survive VACUUM
    even when the bin file itself is old: the supersession record is the
    remove action naming the descriptor (same-path re-adds drop the
    tombstone from replay state, so mtime alone would reclaim it and
    break in-window time travel — review finding, r11)."""
    import time as _time

    from ballista_delta_spark.sources.delta import (
        DeltaTable, compact_deletion_vectors, vacuum,
    )
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "t")
    write_delta(spark.range(100).selectExpr("id"), tbl)
    delete_delta(spark, tbl, "id < 5", mode="dv")
    delete_delta(spark, tbl, "id >= 95", mode="dv")
    bins = sorted(
        glob.glob(os.path.join(tbl, "**", "deletion_vector_*.bin"),
                  recursive=True)
    )
    assert len(bins) >= 1
    # Backdate the bin files past the 7-day default window; the
    # supersession (compaction, below) happens NOW, inside the window.
    past = _time.time() - 8 * 24 * 3600
    for b in bins:
        os.utime(b, (past, past))
    pre_v = DeltaTable(tbl).snapshot.version
    compact_deletion_vectors(tbl)

    vacuum(tbl)  # default 7-day retention
    assert all(os.path.exists(b) for b in bins)
    # in-window time travel still reads through the superseded bins
    assert read_delta(spark, tbl, version=pre_v).count() == 90

    # past the window (retention 0) they are reclaimed as before
    vacuum(tbl, retention_ms=0)
    assert not any(os.path.exists(b) for b in bins)
    assert read_delta(spark, tbl).count() == 90


def test_dv_file_path_storage_types_and_containment(tmp_path):
    """dv_file_path: 'p' returns the verbatim path (z85-decoding its
    tail fabricated a garbage path — any 20 hex/dash chars are valid
    Z85 — silently corrupting VACUUM's keep-set), 'u' is containment-
    checked against the table root (deep clone WRITES to the result),
    and other storage types refuse (review finding, r11)."""
    from ballista_delta_spark.sources.dv import dv_file_path, z85_encode

    tbl = str(tmp_path / "t")
    abs_bin = "/elsewhere/src/deletion_vector_0a1b2c3d-1111-2222-3333-444455556666.bin"
    assert dv_file_path(tbl, {
        "storageType": "p", "pathOrInlineDv": abs_bin
    }) == abs_bin
    assert dv_file_path(tbl, {
        "storageType": "p", "pathOrInlineDv": "file://" + abs_bin
    }) == abs_bin
    u = _uuid.uuid4()
    ok = dv_file_path(tbl, {
        "storageType": "u", "pathOrInlineDv": z85_encode(u.bytes)
    })
    assert ok == os.path.join(tbl, f"deletion_vector_{u}.bin")
    with pytest.raises(ValueError, match="escapes the table root"):
        dv_file_path(tbl, {
            "storageType": "u",
            "pathOrInlineDv": "../../" + z85_encode(u.bytes),
        })
    with pytest.raises(ValueError, match="escapes the table root"):
        dv_file_path(tbl, {
            "storageType": "u",
            "pathOrInlineDv": "/tmp/evil/" + z85_encode(u.bytes),
        })
    with pytest.raises(ValueError, match="storageType"):
        dv_file_path(tbl, {"storageType": "i", "pathOrInlineDv": "x"})


def test_z85_overflow_and_inline_size_are_value_errors(tmp_path):
    from ballista_delta_spark.sources.dv import z85_decode

    with pytest.raises(ValueError, match="overflows"):
        z85_decode("#####")
    # inline DV shorter than declared size: ValueError, not struct.error
    data = _serialize_dv([1, 2])
    pad = (-len(data)) % 4
    desc = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(data + b"\x00" * pad),
        "sizeInBytes": len(data) + 64,
        "cardinality": 2,
    }
    with pytest.raises(ValueError, match="shorter than"):
        read_deletion_vector(str(tmp_path), desc)


def test_write_deletion_vectors_skips_empty_inputs(tmp_path):
    from ballista_delta_spark.sources.dv import write_deletion_vectors

    tbl = str(tmp_path)
    assert write_deletion_vectors(tbl, {}) == {}
    assert glob.glob(os.path.join(tbl, "deletion_vector_*.bin")) == []
    descs = write_deletion_vectors(tbl, {"a.parquet": [], "b.parquet": [3]})
    assert list(descs) == ["b.parquet"]  # empty list skipped, no 0-card DV
    assert descs["b.parquet"]["cardinality"] == 1


def test_dv_u_containment_rejects_symlink_escape(tmp_path):
    """The 'u' root-escape guard must resolve SYMLINKS: a lexical
    (abspath) check passes when the descriptor's prefix names a symlink
    inside the table dir pointing outside it — deep clone would then
    read/write through the link out of the root (review finding, r11)."""
    from ballista_delta_spark.sources.dv import dv_file_path, z85_encode

    tbl = tmp_path / "t"
    tbl.mkdir()
    outside = tmp_path / "elsewhere"
    outside.mkdir()
    (tbl / "sub").symlink_to(outside)
    u = _uuid.uuid4()
    with pytest.raises(ValueError, match="escapes the table root"):
        dv_file_path(str(tbl), {
            "storageType": "u",
            "pathOrInlineDv": "sub/" + z85_encode(u.bytes),
        })
    # a real subdirectory prefix still resolves
    (tbl / "real").mkdir()
    ok = dv_file_path(str(tbl), {
        "storageType": "u",
        "pathOrInlineDv": "real/" + z85_encode(u.bytes),
    })
    assert ok.endswith(os.path.join("real", f"deletion_vector_{u}.bin"))


def test_compact_dv_sheds_empty_bitmap_descriptors(spark, tmp_path, monkeypatch):
    """A (spec-violating, lenient-writer) cardinality-0 DV must not abort
    compaction: write_deletion_vectors rightly refuses to persist an empty
    bitmap, so the re-add sheds the descriptor instead of raising KeyError
    (review finding, r11)."""
    from ballista_delta_spark.sources import dv as dvmod
    from ballista_delta_spark.sources.delta import compact_deletion_vectors
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(
            [(i, 0) for i in range(4)], "id long, p long"
        ).coalesce(1),
        tbl,
    )
    write_delta(
        spark.createDataFrame(
            [(i, 1) for i in range(4, 8)], "id long, p long"
        ).coalesce(1),
        tbl, mode="append",
    )
    # two sequential dv-deletes, one per file -> two bins, so compaction
    # has work to do
    delete_delta(spark, tbl, "id = 0", mode="dv")
    delete_delta(spark, tbl, "id = 4", mode="dv")
    snap = DeltaTable(tbl).snapshot
    dv_files = [r for r, a in snap.files.items() if a.get("deletionVector")]
    assert len(dv_files) == 2
    fake_empty = dv_files[0]
    target = dict(snap.files[fake_empty]["deletionVector"])
    key = (target.get("pathOrInlineDv"), target.get("offset"))
    real_read = dvmod.read_deletion_vector

    def fake(path, desc):
        if (desc.get("pathOrInlineDv"), desc.get("offset")) == key:
            return []
        return real_read(path, desc)

    monkeypatch.setattr(dvmod, "read_deletion_vector", fake)
    out = compact_deletion_vectors(tbl)
    monkeypatch.undo()
    assert out["numBinsAfter"] == 1
    after = DeltaTable(tbl).snapshot
    # the faked-empty file's re-add shed its DV entirely
    assert not after.files[fake_empty].get("deletionVector")
    # the other file still carries a live, readable DV
    other = [r for r in dv_files if r != fake_empty][0]
    assert after.files[other].get("deletionVector")
    # one delete survives, the faked-empty one resurrects its row
    assert read_delta(spark, tbl).count() == 7


def test_compact_dv_all_shed_reports_zero_bins(
    spark, tmp_path, monkeypatch,
):
    """When EVERY active DV decodes empty, compaction writes no bin at
    all — the committed metrics and the return value must say 0 bins and
    0 repointed files, not pretend a bin exists (metrics persist in the
    table history forever)."""
    from ballista_delta_spark.sources import dv as dvmod
    from ballista_delta_spark.sources.delta import (
        DeltaTable, compact_deletion_vectors,
    )
    from ballista_delta_spark.sources.delta_dml import delete_delta

    tbl = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(i,) for i in range(4)], "id long")
        .coalesce(1), tbl,
    )
    write_delta(
        spark.createDataFrame([(i,) for i in range(4, 8)], "id long")
        .coalesce(1), tbl, mode="append",
    )
    delete_delta(spark, tbl, "id = 0", mode="dv")
    delete_delta(spark, tbl, "id = 4", mode="dv")
    monkeypatch.setattr(
        dvmod, "read_deletion_vector", lambda path, desc: []
    )
    out = compact_deletion_vectors(tbl)
    monkeypatch.undo()
    assert out["numBinsAfter"] == 0
    assert out["numFilesRepointed"] == 0
    assert out["numBinsBefore"] == 2
    snap = DeltaTable(tbl).snapshot
    assert not any(a.get("deletionVector") for a in snap.files.values())
    assert read_delta(spark, tbl).count() == 8  # both fakes resurrect
