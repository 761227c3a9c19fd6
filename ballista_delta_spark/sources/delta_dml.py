"""Delta DML — DELETE / UPDATE / MERGE, copy-on-write or merge-on-read.

Reference context: the reference's write surface is a factory that errors
("At the moment INSERT does not work", reference src/lib.rs:140-174;
tests/local.rs:100-103 asserts the failure), so row-level DML has no
reference analogue at all — this module is part of the "exceed the
reference" Delta surface (SURVEY.md §2.1), matching what delta-spark /
delta-rs users actually run (`DELETE FROM`, `UPDATE ... SET`, `MERGE INTO`).

Copy-on-write, the way delta-spark implements it:

1. **Find affected files** — one distributed scan attributes every matching
   row to its parquet file (its ``_metadata.file_path`` key, mapped to the
   add action on the driver once per file) and counts the matches per
   file in the same action; only files that contain at least one
   matching row are touched. Partition pruning applies to this scan (a
   predicate on a partition column prunes directories before listing),
   so a partition-aligned DELETE never reads non-matching partitions.
2. **Metadata-only fast path (DELETE)** — a file whose every row matches
   (per-file matched-count == the add action's ``numRecords`` stat) is
   dropped with a ``remove`` action and never read again; zero rewrite I/O.
   This is what makes partition-aligned deletes O(metadata) — the common
   retention case (``DELETE WHERE ds < ...``) at 100 TB.
3. **Rewrite survivors** — only partially-matching files are re-scanned and
   rewritten through the same distributed staging writer as ``write_delta``;
   the commit pairs their ``remove`` actions with the new ``add`` actions,
   all under the same optimistic-concurrency version claim.

MERGE is two Spark actions, the Delta Lake paper's scan for touched files
followed by one rewrite. Action 1 left-joins the target, scanned with its
physical row identity (file key, parquet row index), to the source and
collects one row per touched file: the largest number of modifying
matches on any one row (the ambiguity check, raised before anything is
written) and the per-clause row counts (:func:`_touched_files`, shared
with the merge-on-read path, which also takes the deletion-vector row
indexes from it). Action 2 rewrites the touched files and appends the
inserted rows in ONE write; the inserted-row count is observed on that
write. Rows are never grouped by value, so any column type merges.

Scale note: the actions run over only the relevant files; the driver
handles O(#affected-files) bookkeeping — identical cost shape to
delta-spark's own DeleteCommand/UpdateCommand/MergeIntoCommand.
"""

from __future__ import annotations

import copy
import functools
import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .delta import (
    DeltaTable,
    ENGINE_INFO,
    _file_key,
    _fs_join,
    _stage_adds,
    _strip_file_scheme,
    _try_commit,
    _stage_cdc,
    active_constraints,
    cdf_enabled,
    check_write_protocol,
    ict_enabled,
    enforce_constraints,
    identity_columns,
    protocol_upgrade_action,
)

_FILE_COL = "__bds_file"


def _retrying(once, retries: int):
    """Re-EXECUTE (not re-commit) on optimistic-concurrency loss.

    A losing DML cleaned up its staged files (`_try_commit`); blindly
    re-claiming the next version would commit actions computed against a
    stale snapshot (its removes may name files the winner already removed,
    its rewrites may miss the winner's rows). Re-running the whole
    operation re-reads the CURRENT snapshot — the delta-spark
    WriteSerializable behavior for condition-based DML.
    """
    attempt = 0
    while True:
        try:
            return once()
        except RuntimeError as exc:
            if "concurrent commit" not in str(exc) or attempt >= retries:
                raise
            attempt += 1


def _check_writable(
    dt: DeltaTable, removes_files: bool = True, cdf_capable: bool = False
) -> None:
    """Enforces the writer protocol: unsupported writer versions/
    features refuse, and appendOnly tables reject file-removing DML
    (insert-only MERGE passes removes_files=False and stays legal).
    columnMapping tables ARE writable — every staging call passes the
    snapshot so ``_stage_adds``/``_stage_cdc`` spell physical names."""
    gen = [
        f.name for f in dt.snapshot.schema.fields
        if (f.metadata or {}).get("delta.generationExpression")
    ]
    if gen:
        # write_delta computes/validates generated columns on append and
        # overwrite; row-level DML would have to RE-generate them whenever
        # a referenced base column changes — refuse rather than commit
        # stale generated values.
        raise ValueError(
            f"DML on a table with generated columns {gen} is not supported "
            "(appends/overwrites are)"
        )
    check_write_protocol(
        dt.snapshot, removes_files=removes_files, cdf_capable=cdf_capable
    )


def _attributed(spark: SparkSession, dt: DeltaTable) -> DataFrame:
    """Snapshot scan with each row's file key (``_file_key`` spelling)
    attached as ``_FILE_COL``: a prefix strip of ``_metadata.file_path``,
    never a per-row decode. Callers group or join on the key and map the
    touched keys back to add-action paths on the driver
    (:func:`_canon_rels`), once per file."""
    if not dt.snapshot.files:
        return dt.to_df(spark).withColumn(_FILE_COL, F.lit(None).cast("string"))
    return (
        dt.to_df(spark, with_location=True)
        .withColumnRenamed("__src_fp", _FILE_COL)
        .drop("__src_ri")
    )


def _canon_rels(dt: DeltaTable, keys) -> list[str]:
    """Map scanned file keys back to the snapshot's add-action keys
    through a driver-side dict, one ``_file_key`` per active file.

    Shallow-clone adds are absolute paths, possibly outside the table
    root; they key the same way. A key matching no file is retried by
    its symlink-resolved path (a scan may report /private/tmp for /tmp),
    and anything still unmatched raises rather than silently making the
    DML a 0-row no-op."""
    from urllib.parse import unquote

    paths = {
        rel: os.path.abspath(_fs_join(dt.path, rel))
        for rel in dt.snapshot.files
    }
    by_key = {_file_key(p): rel for rel, p in paths.items()}
    resolved = None
    out: list[str] = []
    for k in keys:
        rel = by_key.get(k)
        if rel is None:
            if resolved is None:
                resolved = {os.path.realpath(p): r for r, p in paths.items()}
            # _file_key escapes every '%', so unquote inverts it exactly.
            rel = resolved.get(os.path.realpath(unquote(k)))
        if rel is None:
            raise ValueError(f"scanned file not in snapshot of {dt.path}: {k!r}")
        out.append(rel)
    return out


def _subset_df(
    spark: SparkSession, dt: DeltaTable, rels: list[str],
    with_location: bool = False,
) -> DataFrame:
    """Scan of only the given active files (partition columns included;
    ``with_location`` as in :meth:`DeltaTable.to_df`).

    Point lookups, not items(): a 2-file DELETE on a checkpoint-backed
    million-add table must materialize 2 add dicts, not all of them."""
    sub = DeltaTable.__new__(DeltaTable)
    sub.path = dt.path
    sub.snapshot = copy.copy(dt.snapshot)
    sub.snapshot.files = {r: dt.snapshot.files[r] for r in rels}
    return sub.to_df(spark, with_location=with_location)


def _sized(df: DataFrame, n_input_files: int) -> DataFrame:
    """Bound the rewrite's output file count to the number of input files it
    replaces (delta-spark bin-packs rewrites the same way; without this a
    20-row rewrite emits one near-empty parquet per shuffle partition)."""
    return df.coalesce(max(1, n_input_files))


def _removes(dt: DeltaTable, rels: list[str], now_ms: int) -> list[dict[str, Any]]:
    out = []
    for r in rels:
        rm: dict[str, Any] = {
            "path": r,
            "deletionTimestamp": now_ms,
            "dataChange": True,
            "partitionValues": dt.snapshot.files[r].get("partitionValues") or {},
            "size": dt.snapshot.files[r].get("size"),
        }
        # Spec: a remove of a file version that carried a DV names it, so
        # other engines can reconcile/vacuum the .bin.
        if dt.snapshot.files[r].get("deletionVector"):
            rm["deletionVector"] = dt.snapshot.files[r]["deletionVector"]
        out.append({"remove": rm})
    return out


def _commit_info(operation: str, params: dict, metrics: dict, now_ms: int) -> dict:
    return {
        "commitInfo": {
            "timestamp": now_ms,
            "operation": operation,
            "operationParameters": params,
            "operationMetrics": {k: str(v) for k, v in metrics.items()},
            "engineInfo": ENGINE_INFO,
            "txnId": str(uuid.uuid4()),
        }
    }


def _num_records(dt: DeltaTable, rel: str) -> int | None:
    stats = dt.snapshot.files[rel].get("stats")
    if not stats:
        return None
    try:
        return json.loads(stats)["numRecords"]
    except (ValueError, KeyError):
        return None


def delete_delta(
    spark: SparkSession,
    path: str,
    condition: str,
    retries: int = 0,
    mode: str = "cow",
) -> dict[str, Any]:
    """``DELETE FROM <path> WHERE condition``.

    SQL three-valued logic: rows where the condition is TRUE are deleted;
    FALSE and NULL rows are kept. Returns operation metrics including the
    committed version and how many files were removed without a rewrite.

    ``mode="cow"`` (default) is copy-on-write: files fully covered by the
    predicate are dropped metadata-only, partially-covered files are
    rewritten. ``mode="dv"`` is merge-on-read: matching rows are recorded
    in per-file DELETION VECTORS (sources/dv.py) and no data file is
    touched — cost is O(deleted rows) instead of O(rewritten bytes), the
    delta-spark default for point deletes on huge tables. The first DV
    commit upgrades the table protocol to reader v3 / writer v7 with the
    deletionVectors feature, exactly as delta-spark does.
    """
    if mode == "dv":
        return _retrying(
            lambda: _delete_dv_once(spark, path, condition), retries
        )
    if mode != "cow":
        raise ValueError(f"unknown delete mode {mode!r} (cow | dv)")
    return _retrying(
        lambda: _delete_once(spark, path, condition), retries
    )


def _delete_once(spark: SparkSession, path: str, condition: str) -> dict[str, Any]:
    dt = DeltaTable(path)
    _check_writable(dt, cdf_capable=True)
    cond = F.coalesce(F.expr(condition), F.lit(False))
    per_file = (
        _attributed(spark, dt)
        .filter(cond)
        .groupBy(_FILE_COL)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    matched = {
        canon: r["n"]
        for r, canon in zip(
            per_file, _canon_rels(dt, [r[_FILE_COL] for r in per_file])
        )
    }
    if not matched:
        return {
            "version": dt.version,
            "numDeletedRows": 0,
            "numRemovedFiles": 0,
            "numFullFilesRemoved": 0,
            "numAddedFiles": 0,
        }

    full = [r for r, n in matched.items() if _num_records(dt, r) == n]
    partial = [r for r in matched if r not in set(full)]
    now_ms = int(time.time() * 1000)

    adds: list[dict[str, Any]] = []
    if partial:
        kept = _sized(_subset_df(spark, dt, partial).filter(~cond), len(partial))
        adds = _stage_adds(
            kept, dt.path, dt.snapshot.partition_columns, dt.snapshot.schema, snap=dt.snapshot
        )

    n_deleted = sum(matched.values())
    metrics = {
        "numDeletedRows": n_deleted,
        "numRemovedFiles": len(matched),
        "numFullFilesRemoved": len(full),
        "numAddedFiles": len(adds),
    }
    actions = [_commit_info("DELETE", {"predicate": condition}, metrics, now_ms)]
    actions += _removes(dt, full + partial, now_ms)
    actions += [{"add": a} for a in adds]
    if cdf_enabled(dt.snapshot):
        # CDF: record every deleted row (a commit mixing removes and adds
        # is not derivable by readers, so cover full-file removes too).
        deleted_rows = (
            _subset_df(spark, dt, full + partial)
            .filter(cond)
            .withColumn("_change_type", F.lit("delete"))
        )
        actions += [
            {"cdc": c}
            for c in _stage_cdc(
                deleted_rows, dt.path, dt.snapshot.partition_columns, snap=dt.snapshot
            )
        ]
    version = _try_commit(
        dt.path, actions, adds, enable_ict=ict_enabled(dt.snapshot),
        snap=dt.snapshot,
    )
    return {"version": version, **metrics}


def replace_where_delta(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    predicate: str,
    retries: int = 0,
) -> dict[str, Any]:
    """delta-spark's ``option("replaceWhere", predicate)`` overwrite: in
    ONE commit, delete every existing row matching ``predicate`` and
    insert ``df`` — the idempotent partition/backfill primitive ("replace
    today's slice with this recomputed one").

    Semantics match delta-spark's strict mode: every incoming row must
    satisfy the predicate (an overwrite that leaks rows outside its
    declared slice silently corrupts neighbors — refuse instead); CHECK
    constraints/invariants are enforced on the incoming rows; files fully
    covered by the predicate are removed metadata-only, partially covered
    files are rewritten keeping their non-matching rows (for a partition-
    aligned predicate that's zero rewrites — the common backfill case is
    pure metadata + new files). CDF tables record delete rows for the
    replaced slice and insert rows for the new one in the same commit.

    Scale shape: the delete half prunes to predicate-relevant files
    exactly like DELETE (stats/partition skipping via the scan), and the
    insert half is a normal distributed stage — nothing scans the rest of
    the table.
    """
    return _retrying(
        lambda: _replace_where_once(spark, path, df, predicate), retries
    )


def _replace_where_once(
    spark: SparkSession, path: str, df: DataFrame, predicate: str
) -> dict[str, Any]:
    dt = DeltaTable(path)
    _check_writable(dt, cdf_capable=True)
    snap = dt.snapshot
    cond = F.coalesce(F.expr(predicate), F.lit(False))
    # Incoming schema must match the table exactly (replaceWhere is not a
    # schema-evolution path); select in table order so staging writes the
    # canonical layout.
    expected = {f.name: f.dataType.simpleString() for f in snap.schema.fields}
    incoming = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if set(incoming) != set(expected):
        raise ValueError(
            f"replaceWhere schema mismatch: incoming {sorted(incoming)} "
            f"vs table {sorted(expected)}"
        )
    drift = {
        n: (incoming[n], expected[n])
        for n in expected if incoming[n] != expected[n]
    }
    if drift:
        raise ValueError(f"schema type mismatch (incoming, table): {drift}")
    df = df.select(*[f.name for f in snap.schema.fields])
    # Identity guard (same rule as write_delta/MERGE): the strict schema
    # check above forces the caller to SUPPLY identity values, which
    # GENERATED ALWAYS columns prohibit — without this, replaceWhere was
    # the one DML path that accepted explicit values and left the
    # high-water mark behind, enabling future duplicate ids.
    always_ids = [
        c for c, md in identity_columns(snap).items()
        if str(md.get("delta.identity.allowExplicitInsert", "")).lower()
        != "true"
    ]
    if always_ids:
        raise ValueError(
            "replaceWhere on a table with GENERATED ALWAYS identity "
            f"column(s) {always_ids} is not supported — the replacement "
            "rows would carry explicit identity values"
        )
    # Strict containment: rows outside the declared slice refuse.
    outside = df.filter(~cond).count()
    if outside:
        raise ValueError(
            f"replaceWhere: {outside} incoming row(s) do not satisfy "
            f"{predicate!r} — the write would leak outside its slice"
        )
    enforce_constraints(df, snap)

    per_file = (
        _attributed(spark, dt)
        .filter(cond)
        .groupBy(_FILE_COL)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    matched = {
        canon: r["n"]
        for r, canon in zip(
            per_file, _canon_rels(dt, [r[_FILE_COL] for r in per_file])
        )
    }
    full = [r for r, n in matched.items() if _num_records(dt, r) == n]
    partial = [r for r in matched if r not in set(full)]
    now_ms = int(time.time() * 1000)

    adds: list[dict[str, Any]] = []
    if partial:
        kept = _sized(
            _subset_df(spark, dt, partial).filter(~cond), len(partial)
        )
        adds += _stage_adds(
            kept, dt.path, snap.partition_columns, snap.schema, snap=snap
        )
    new_adds = _stage_adds(
        df, dt.path, snap.partition_columns, snap.schema, snap=snap
    )
    adds += new_adds

    n_deleted = sum(matched.values())
    metrics = {
        "numDeletedRows": n_deleted,
        "numRemovedFiles": len(matched),
        "numFullFilesRemoved": len(full),
        "numAddedFiles": len(adds),
    }
    actions = [_commit_info(
        "WRITE",
        {"mode": "Overwrite", "predicate": predicate},
        metrics, now_ms,
    )]
    actions += _removes(dt, full + partial, now_ms)
    actions += [{"add": a} for a in adds]
    if cdf_enabled(snap):
        changes = None
        if matched:
            changes = (
                _subset_df(spark, dt, full + partial)
                .filter(cond)
                .withColumn("_change_type", F.lit("delete"))
            )
        inserted = df.withColumn("_change_type", F.lit("insert"))
        changes = inserted if changes is None else changes.unionByName(inserted)
        actions += [
            {"cdc": c}
            for c in _stage_cdc(
                changes, dt.path, snap.partition_columns, snap=snap
            )
        ]
    version = _try_commit(
        dt.path, actions, adds, enable_ict=ict_enabled(snap), snap=snap
    )
    return {"version": version, **metrics}


def _dv_mark_rows(
    spark: SparkSession, dt: DeltaTable, located: DataFrame
) -> tuple[dict[str, list[int]], int]:
    """Aggregate a located row set (must carry ``__src_fp``/``__src_ri``)
    into rel_file -> sorted deleted row indexes, merged with any existing
    DV on the same file. Per-file indexes aggregate executor-side; only the
    final (file -> sorted indexes) lists land on the driver, which
    serializes the bitmaps — the same driver-side metadata role it plays
    for the commit JSON itself. Returns ({}, 0) when nothing matched."""
    per_file = (
        located
        .groupBy("__src_fp")
        .agg(F.sort_array(F.collect_list("__src_ri")).alias("idxs"))
        .collect()
    )
    if not per_file:
        return {}, 0
    new_per_file = {
        rel: list(r["idxs"])
        for r, rel in zip(
            per_file, _canon_rels(dt, [r["__src_fp"] for r in per_file])
        )
    }
    n_marked = sum(len(v) for v in new_per_file.values())
    return _with_existing_dvs(dt, new_per_file), n_marked


def _with_existing_dvs(
    dt: DeltaTable, new_per_file: dict[str, list[int]]
) -> dict[str, list[int]]:
    """Union each file's newly marked row indexes with the rows its
    current deletion vector already deletes (in place; returned)."""
    from .delta import _as_dict
    from . import dv as _dv

    for rel in new_per_file:
        old = dt.snapshot.files[rel].get("deletionVector")
        if old:
            new_per_file[rel] = sorted(
                set(new_per_file[rel])
                | set(_dv.read_deletion_vector(dt.path, _as_dict(old)))
            )
    return new_per_file


def _dv_protocol_and_file_actions(
    dt: DeltaTable, new_per_file: dict[str, list[int]], now_ms: int
) -> list[dict[str, Any]]:
    """The action set shared by every DV-writing DML op: the (union-
    preserving) protocol upgrade when the table lacks the deletionVectors
    feature, plus the remove/re-add pair per DV'd file — the re-add names
    the SAME data file with the new descriptor and wide stats bounds."""
    from . import dv as _dv

    descriptors = _dv.write_deletion_vectors(dt.path, new_per_file)
    snap = dt.snapshot
    actions: list[dict[str, Any]] = []
    if (
        snap.min_writer_version < 7
        or "deletionVectors" not in snap.writer_features
        or snap.min_reader_version < 3
        or "deletionVectors" not in snap.reader_features
    ):
        # Union-preserving: re-emits previously declared reader/writer
        # features (timestampNtz, v2Checkpoint, ...) and enumerates what a
        # legacy version number implied — never drops another engine's gate.
        actions.append(protocol_upgrade_action(
            snap, min_writer=7,
            writer_feature="deletionVectors",
            reader_feature="deletionVectors",
        ))
    actions += _removes(dt, list(new_per_file), now_ms)
    for rel, desc in descriptors.items():
        add = dict(snap.files[rel])
        add["path"] = rel
        add["deletionVector"] = desc
        add["dataChange"] = True
        if add.get("stats"):
            # numRecords stays the PHYSICAL row count (spec); min/max are
            # now a superset of the live rows -> flag them wide.
            st = json.loads(add["stats"])
            st["tightBounds"] = False
            add["stats"] = json.dumps(st)
        actions.append({"add": add})
    return actions


def _delete_dv_once(
    spark: SparkSession, path: str, condition: str
) -> dict[str, Any]:
    dt = DeltaTable(path)
    # DV delete removes ROWS (appendOnly must refuse) without removing
    # data files; the add/remove pair it commits is dataChange=true.
    _check_writable(dt, cdf_capable=True)
    cond = F.coalesce(F.expr(condition), F.lit(False))
    if not dt.snapshot.files:
        # zero-file table: nothing to mark (with_location scans refuse
        # an empty snapshot, and the cow path no-ops here too)
        return {
            "version": dt.version,
            "numDeletedRows": 0,
            "numDeletionVectorsAdded": 0,
        }
    # Matching LIVE rows by physical identity: to_df applies existing DVs,
    # so re-deleting an already-deleted row is impossible by construction.
    new_per_file, n_deleted = _dv_mark_rows(
        spark, dt, dt.to_df(spark, with_location=True).filter(cond)
    )
    if not new_per_file:
        return {
            "version": dt.version,
            "numDeletedRows": 0,
            "numDeletionVectorsAdded": 0,
        }

    now_ms = int(time.time() * 1000)
    metrics = {
        "numDeletedRows": n_deleted,
        "numDeletionVectorsAdded": len(new_per_file),
        "numRemovedFiles": len(new_per_file),
        "numAddedFiles": len(new_per_file),
    }
    actions: list[dict[str, Any]] = [
        _commit_info("DELETE", {"predicate": condition}, metrics, now_ms)
    ]
    snap = dt.snapshot
    actions += _dv_protocol_and_file_actions(dt, new_per_file, now_ms)
    if cdf_enabled(snap):
        # CDF: the remove/add pair on the same file is not derivable by
        # readers — record the deleted rows explicitly.
        deleted_rows = (
            dt.to_df(spark, with_location=True)
            .filter(cond)
            .drop("__src_fp", "__src_ri")
            .withColumn("_change_type", F.lit("delete"))
        )
        actions += [
            {"cdc": c}
            for c in _stage_cdc(
                deleted_rows, dt.path, snap.partition_columns, snap=snap
            )
        ]
    # No staged part-files: the adds reference EXISTING data files. A lost
    # commit race orphans only the .bin (vacuum-able), never data.
    version = _try_commit(
        dt.path, actions, [], enable_ict=ict_enabled(dt.snapshot),
        snap=dt.snapshot,
    )
    return {"version": version, **metrics}


def update_delta(
    spark: SparkSession,
    path: str,
    condition: str,
    set_exprs: dict[str, str],
    retries: int = 0,
    mode: str = "cow",
) -> dict[str, Any]:
    """``UPDATE <path> SET col = expr, ... WHERE condition``.

    ``set_exprs`` maps column name -> SQL expression (may reference any table
    column; evaluated against the PRE-update row, as SQL requires).

    ``mode="cow"`` (default) is copy-on-write: only files containing at
    least one TRUE-condition row are rewritten. ``mode="dv"`` is
    merge-on-read, delta-spark's default since 3.1: the PRE-image rows are
    recorded in per-file deletion vectors and only the POST-image rows are
    appended as new files — cost O(updated rows), not O(rewritten bytes),
    which is the difference between minutes and hours for a
    low-selectivity UPDATE on a 100 TB table.
    """
    if mode == "dv":
        return _retrying(
            lambda: _update_dv_once(spark, path, condition, set_exprs),
            retries,
        )
    if mode != "cow":
        raise ValueError(f"unknown update mode {mode!r} (cow | dv)")
    return _retrying(
        lambda: _update_once(spark, path, condition, set_exprs), retries
    )


def _validate_update_targets(
    dt: DeltaTable, set_exprs: dict[str, str]
) -> None:
    cols = {f.name for f in dt.snapshot.schema.fields}
    unknown = set(set_exprs) - cols
    if unknown:
        raise ValueError(f"SET targets not in table schema: {sorted(unknown)}")
    id_hit = set(set_exprs) & set(identity_columns(dt.snapshot))
    if id_hit:
        # delta-spark semantics: identity columns can never be UPDATEd.
        raise ValueError(
            f"cannot UPDATE identity column(s) {sorted(id_hit)}"
        )


def _update_dv_once(
    spark: SparkSession, path: str, condition: str, set_exprs: dict[str, str]
) -> dict[str, Any]:
    dt = DeltaTable(path)
    _check_writable(dt, cdf_capable=True)
    _validate_update_targets(dt, set_exprs)
    cond = F.coalesce(F.expr(condition), F.lit(False))
    typed = dict((f.name, f.dataType) for f in dt.snapshot.schema.fields)
    tcols = [f.name for f in dt.snapshot.schema.fields]

    if not dt.snapshot.files:
        return {
            "version": dt.version,
            "numUpdatedRows": 0,
            "numDeletionVectorsAdded": 0,
            "numAddedFiles": 0,
        }
    # Matching LIVE rows with physical identity (existing DVs applied by
    # to_df, so an already-deleted row can't be re-marked).
    located = dt.to_df(spark, with_location=True).filter(cond)
    new_per_file, n_updated = _dv_mark_rows(spark, dt, located)
    if not new_per_file:
        return {
            "version": dt.version,
            "numUpdatedRows": 0,
            "numDeletionVectorsAdded": 0,
            "numAddedFiles": 0,
        }
    # POST-image rows (every located row matches cond, so the SET applies
    # unconditionally), appended as NEW files; pre-images die via the DVs.
    post = located.select(
        *[
            (F.expr(set_exprs[c]) if c in set_exprs else F.col(c))
            .cast(typed[c])
            .alias(c)
            for c in tcols
        ]
    )
    if active_constraints(dt.snapshot):
        enforce_constraints(post, dt.snapshot)
    now_ms = int(time.time() * 1000)
    adds = _stage_adds(
        _sized(post, len(new_per_file)),
        dt.path, dt.snapshot.partition_columns, dt.snapshot.schema, snap=dt.snapshot
    )
    metrics = {
        "numUpdatedRows": n_updated,
        "numDeletionVectorsAdded": len(new_per_file),
        "numRemovedFiles": len(new_per_file),
        "numAddedFiles": len(adds),
    }
    actions: list[dict[str, Any]] = [
        _commit_info(
            "UPDATE", {"predicate": condition, "set": json.dumps(set_exprs)},
            metrics, now_ms,
        )
    ]
    actions += _dv_protocol_and_file_actions(dt, new_per_file, now_ms)
    actions += [{"add": a} for a in adds]
    if cdf_enabled(dt.snapshot):
        pre = located.drop("__src_fp", "__src_ri").withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post_img = post.withColumn(
            "_change_type", F.lit("update_postimage")
        )
        actions += [
            {"cdc": c}
            for c in _stage_cdc(
                pre.unionByName(post_img), dt.path,
                dt.snapshot.partition_columns, snap=dt.snapshot
            )
        ]
    version = _try_commit(
        dt.path, actions, adds, enable_ict=ict_enabled(dt.snapshot),
        snap=dt.snapshot,
    )
    return {"version": version, **metrics}


def _update_once(
    spark: SparkSession, path: str, condition: str, set_exprs: dict[str, str]
) -> dict[str, Any]:
    dt = DeltaTable(path)
    _check_writable(dt, cdf_capable=True)
    _validate_update_targets(dt, set_exprs)
    part_updates = set(set_exprs) & set(dt.snapshot.partition_columns)
    cond = F.coalesce(F.expr(condition), F.lit(False))

    # One action: the touched files and how many rows each updates.
    per_file = (
        _attributed(spark, dt).filter(cond).groupBy(_FILE_COL).count().collect()
    )
    affected = _canon_rels(dt, [r[_FILE_COL] for r in per_file])
    if not affected:
        return {"version": dt.version, "numUpdatedRows": 0, "numRewrittenFiles": 0}
    n_updated = sum(r["count"] for r in per_file)

    sub = _subset_df(spark, dt, affected)
    # All SET expressions see the pre-update row: compute them in ONE select.
    updated = sub.select(
        *[
            (
                F.when(cond, F.expr(set_exprs[c])).otherwise(F.col(c)).alias(c)
                if c in set_exprs
                else F.col(c)
            )
            for c in sub.columns
        ]
    )
    # Cast SET outputs back to the column's declared type (delta-spark
    # behavior); updating a partition column re-buckets the row into its
    # new Hive directory via the partitioned staging writer below.
    for c in set_exprs:
        typ = dict((f.name, f.dataType) for f in dt.snapshot.schema.fields)[c]
        updated = updated.withColumn(c, F.col(c).cast(typ))

    # Only rows the SET actually touched can newly violate a constraint.
    # Filter on PRE-update values (cond references those), THEN apply the
    # SET projection unconditionally.
    if active_constraints(dt.snapshot):
        typed = dict((f.name, f.dataType) for f in dt.snapshot.schema.fields)
        changed = sub.filter(cond).select(
            *[
                F.expr(set_exprs[c]).cast(typed[c]).alias(c)
                if c in set_exprs else F.col(c)
                for c in sub.columns
            ]
        )
        enforce_constraints(changed, dt.snapshot)
    now_ms = int(time.time() * 1000)
    adds = _stage_adds(
        _sized(updated, len(affected)),
        dt.path, dt.snapshot.partition_columns, dt.snapshot.schema, snap=dt.snapshot
    )
    metrics = {
        "numUpdatedRows": n_updated,
        "numRewrittenFiles": len(affected),
        "numAddedFiles": len(adds),
        "repartitionedByUpdate": bool(part_updates),
    }
    actions = [
        _commit_info(
            "UPDATE", {"predicate": condition, "set": json.dumps(set_exprs)},
            metrics, now_ms,
        )
    ]
    actions += _removes(dt, affected, now_ms)
    actions += [{"add": a} for a in adds]
    if cdf_enabled(dt.snapshot):
        # Change data feed: one _change_data write carrying the pre- and
        # post-image of every updated row (spec: a commit with cdc actions
        # is read EXCLUSIVELY through them).
        typed = dict((f.name, f.dataType) for f in dt.snapshot.schema.fields)
        pre = sub.filter(cond).withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = sub.filter(cond).select(
            *[
                F.expr(set_exprs[c]).cast(typed[c]).alias(c)
                if c in set_exprs else F.col(c)
                for c in sub.columns
            ]
        ).withColumn("_change_type", F.lit("update_postimage"))
        actions += [
            {"cdc": c}
            for c in _stage_cdc(
                pre.unionByName(post), dt.path,
                dt.snapshot.partition_columns, snap=dt.snapshot
            )
        ]
    version = _try_commit(
        dt.path, actions, adds, enable_ict=ict_enabled(dt.snapshot),
        snap=dt.snapshot,
    )
    return {"version": version, **metrics}


def _validate_merge_clauses(
    dt: DeltaTable,
    source: DataFrame,
    matched_clauses: list[tuple[str | None, str, dict[str, str] | None]],
    not_matched_clauses: list[tuple[str | None, dict[str, str] | bool]],
    tcols: list[str],
    by_source_clauses: (
        list[tuple[str | None, str, dict[str, str] | None]] | tuple
    ) = (),
) -> None:
    """Shared cow/dv validation — BEFORE any staging writes, so a late
    raise can't orphan already-moved part-files."""
    ids = identity_columns(dt.snapshot)
    always_ids = [
        c for c, md in ids.items()
        if str(md.get("delta.identity.allowExplicitInsert", "")).lower()
        != "true"
    ]
    if always_ids and not_matched_clauses:
        raise ValueError(
            "MERGE INSERT on a table with GENERATED ALWAYS identity "
            f"column(s) {always_ids} is not supported — append via "
            "write_delta generates them"
        )
    for _c, kind, upd in list(matched_clauses) + list(by_source_clauses):
        if kind == "update":
            bad = set(upd) - set(tcols)
            if bad:
                raise ValueError(
                    f"matched_update targets not in table schema: {sorted(bad)}"
                )
            id_hit = set(upd) & set(ids)
            if id_hit:
                raise ValueError(
                    f"cannot UPDATE identity column(s) {sorted(id_hit)}"
                )
    for _c, spec in not_matched_clauses:
        if spec is True:
            missing = set(tcols) - set(source.columns)
            if missing:
                raise ValueError(
                    f"not_matched_insert=True but source lacks {sorted(missing)}"
                )
        else:
            _validate_insert_spec(spec, tcols, "not_matched insert map")


def _validate_insert_spec(
    spec: dict[str, str] | bool, tcols: list[str], where: str
) -> None:
    """Unknown keys in an insert map silently defaulted the REAL column
    to NULL — refuse them like UPDATE refuses unknown SET targets."""
    if not isinstance(spec, dict):
        return
    unknown = set(spec) - set(tcols)
    if unknown:
        raise ValueError(
            f"{where} references unknown column(s) {sorted(unknown)}"
        )


def _first_clause(clauses, guard: Column) -> Column:
    """Index of the first clause (``(condition | None, ...)``) whose
    condition holds on a row where ``guard`` holds, else -1: the
    first-match-wins rule. A NULL condition counts as false."""
    act = F.lit(-1)
    for i in reversed(range(len(clauses))):
        cond_sql = clauses[i][0]
        cc = guard & (F.expr(cond_sql) if cond_sql is not None else F.lit(True))
        act = F.when(cc, F.lit(i)).otherwise(act)
    return act


def _ids(clauses, kind: str) -> list[int]:
    return [i for i, c in enumerate(clauses) if c[1] == kind]


def _acting(matched_clauses, by_source_clauses, kind: str) -> Column:
    """True on a joined row whose applying clause (matched or by-source)
    is of ``kind`` (``"update"`` / ``"delete"``)."""
    out = F.lit(False)
    for col, clauses in (
        ("__act", matched_clauses), ("__bsact", by_source_clauses)
    ):
        ids = _ids(clauses, kind)
        if ids:
            out = out | F.col(col).isin(ids)
    return out


def _merge_join(
    tgt: DataFrame, src: DataFrame, on_expr: Column,
    matched_clauses, by_source_clauses,
) -> DataFrame:
    """Target rows (alias ``t``) left-joined to the source (``src``: alias
    ``s``, carrying the ``__s_hit`` marker) with ``__act``, the row's
    first applying matched clause, and ``__bsact``, its first applying
    not-matched-by-source clause (-1: none). By-source conditions see only
    ``t`` (the ``s`` side of an unmatched row is all null)."""
    hit = F.col("__s_hit").isNotNull()
    return (
        tgt.alias("t").join(src, on_expr, "left")
        .withColumn("__act", _first_clause(matched_clauses, hit))
        .withColumn("__bsact", _first_clause(by_source_clauses, ~hit))
    )


def _touched_files(
    joined: DataFrame, matched_clauses, by_source_clauses,
    row_indexes: bool = False,
) -> tuple[list, int, int]:
    """ONE Spark action over a located :func:`_merge_join` (its target
    scanned ``with_location``): the rows some clause modifies, grouped by
    physical row identity ``(__src_fp, __src_ri)``, then by file.

    Raises when the MERGE is ambiguous, by delta-spark's cardinality
    rule: a target row that MORE THAN ONE source row would modify. A
    match that fails every conditional clause is a no-op and never
    counts. Returns ``(per-file rows, updated rows, deleted rows)``; each
    per-file row carries the file key ``__src_fp`` and, with
    ``row_indexes``, the sorted modified row indexes ``__idxs``."""
    act, bsact = F.col("__act"), F.col("__bsact")
    per_row = (
        joined.filter((act >= 0) | (bsact >= 0))
        # Hash-partitioned on the file key, both groupings below run in
        # the one shuffle: (key, index) groups are clustered by key.
        .repartition("__src_fp")
        .groupBy("__src_fp", "__src_ri")
        .agg(
            F.sum((act >= 0).cast("int")).alias("__k"),
            F.max(act).alias("__a"),
            F.max(bsact).alias("__b"),
        )
    )
    aggs = [F.sum((F.col("__k") > 1).cast("int")).alias("__dups")]
    aggs += [
        F.sum((F.col("__a") == i).cast("int")).alias(f"__n{i}")
        for i in range(len(matched_clauses))
    ]
    aggs += [
        F.sum((F.col("__b") == i).cast("int")).alias(f"__b{i}")
        for i in range(len(by_source_clauses))
    ]
    if row_indexes:
        aggs.append(F.sort_array(F.collect_list("__src_ri")).alias("__idxs"))
    rows = per_row.groupBy("__src_fp").agg(*aggs).collect()
    dups = sum(r["__dups"] for r in rows)
    if dups:
        raise ValueError(
            f"MERGE is ambiguous: {dups} target row(s) would be modified "
            "by multiple source rows"
        )

    def total(kind: str) -> int:
        return sum(
            r[f"__n{i}"] for r in rows for i in _ids(matched_clauses, kind)
        ) + sum(
            r[f"__b{i}"] for r in rows for i in _ids(by_source_clauses, kind)
        )

    return rows, total("update"), total("delete")


def _nullable(dtype: T.DataType) -> T.DataType:
    """``dtype`` with every nested nullability flag set. A scan reads
    every parquet value as nullable and Spark refuses a cast that narrows
    nullability, so DML casts values to this form of a declared type."""
    if isinstance(dtype, T.MapType):
        return T.MapType(
            _nullable(dtype.keyType), _nullable(dtype.valueType), True
        )
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_nullable(dtype.elementType), True)
    if isinstance(dtype, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dtype.fields
        ])
    return dtype


def _set_columns(snap, matched_clauses, by_source_clauses) -> list[Column]:
    """The post-image projection of a :func:`_merge_join` row: a column
    some update clause SETs takes the SET expression of the row's
    applying clause, cast to its declared type; every other column is
    the target value as read."""
    out = []
    for f in snap.schema.fields:
        col = F.col(f"t.{f.name}")
        sets = [
            (act, i, clauses[i][2][f.name])
            for act, clauses in (
                ("__act", matched_clauses), ("__bsact", by_source_clauses)
            )
            for i in _ids(clauses, "update") if f.name in clauses[i][2]
        ]
        for act, i, expr in sets:
            col = F.when(F.col(act) == i, F.expr(expr)).otherwise(col)
        if sets:
            col = col.cast(_nullable(f.dataType))
        out.append(col.alias(f.name))
    return out


def _merge_insert_rows(
    snap,
    src: DataFrame,
    anti_base: DataFrame | None,
    on_expr: Column,
    not_matched_clauses: list[tuple[str | None, dict[str, str] | bool]],
) -> DataFrame:
    """Source rows matching no ``anti_base`` row (every source row when it
    is None) that qualify for a WHEN NOT MATCHED clause (first-match-wins;
    a row qualifying for none is not inserted), projected and cast to the
    target schema."""
    unmatched = (
        src if anti_base is None
        else src.join(anti_base.alias("t"), on_expr, "left_anti")
    )
    unmatched = unmatched.withColumn(
        "__iact", _first_clause(not_matched_clauses, F.lit(True))
    ).filter(F.col("__iact") >= 0)
    out = []
    for f in snap.schema.fields:
        col = F.lit(None)
        for i, (_c0, spec) in enumerate(not_matched_clauses):
            val = (
                F.col(f"s.{f.name}") if spec is True
                else (F.expr(spec[f.name]) if f.name in spec else F.lit(None))
            )
            col = F.when(F.col("__iact") == i, val).otherwise(col)
        out.append(col.cast(_nullable(f.dataType)).alias(f.name))
    return unmatched.select(*out)


def _insert_base(
    spark: SparkSession, dt: DeltaTable, matched_clauses, touched: list[str],
    sub: DataFrame | None = None,
) -> DataFrame | None:
    """The target rows an insert candidate must not match. A matched
    clause without a condition modifies every row it matches, so then
    every file holding a match is among the ``touched`` files (``sub``,
    their scan, when the caller has one): a source row matching none of
    their rows matches no target row. Otherwise the whole target."""
    if any(c is None for c, _k, _u in matched_clauses):
        if not touched:
            return None
        return sub if sub is not None else _subset_df(spark, dt, touched)
    return dt.to_df(spark) if dt.snapshot.files else None


def _stage_merge_adds(
    dt: DeltaTable, kept: DataFrame | None, ins: DataFrame | None,
    n_files: int,
) -> tuple[list[dict[str, Any]], int]:
    """The rewritten or post-image rows (``kept``) and the inserted rows
    in ONE write, bounded to ``n_files`` output files when non-zero (an
    insert-only write is left to AQE's partition coalescing). Returns the
    adds and the inserted-row count, observed on the write itself: no
    count job. The union is observed, not ``ins``, so the observation
    lives in the session that runs the write (inside ``foreachBatch`` the
    source, and so ``ins``, belongs to the micro-batch's session)."""
    snap = dt.snapshot
    parts = [
        df.withColumn("__ins", F.lit(flag))
        for df, flag in ((kept, 0), (ins, 1)) if df is not None
    ]
    obs = Observation()
    out = functools.reduce(DataFrame.unionByName, parts).observe(
        obs, F.sum("__ins").alias("n")
    ).drop("__ins")
    if active_constraints(snap):
        enforce_constraints(out, snap)
    if n_files:
        out = _sized(out, n_files)
    adds = _stage_adds(
        out, dt.path, snap.partition_columns, snap.schema, snap=snap
    )
    return adds, obs.get["n"] or 0


def _stage_merge_cdc(
    dt: DeltaTable, joined: DataFrame, matched_clauses, by_source_clauses,
    ins: DataFrame | None,
) -> list[dict[str, Any]]:
    """CDF rows of a MERGE commit in one write: update pre/post-images
    and deleted rows out of the :func:`_merge_join` of the touched files,
    plus the inserted rows (a commit mixing inserts with updates or
    deletes is read exclusively through its cdc files)."""
    snap = dt.snapshot
    pre = [F.col(f"t.{f.name}").alias(f.name) for f in snap.schema.fields]
    upd = joined.filter(_acting(matched_clauses, by_source_clauses, "update"))
    dele = joined.filter(_acting(matched_clauses, by_source_clauses, "delete"))
    images = [
        upd.select(*pre).withColumn("_change_type", F.lit("update_preimage")),
        upd.select(*_set_columns(snap, matched_clauses, by_source_clauses))
        .withColumn("_change_type", F.lit("update_postimage")),
        dele.select(*pre).withColumn("_change_type", F.lit("delete")),
    ]
    if ins is not None:
        images.append(ins.withColumn("_change_type", F.lit("insert")))
    return _stage_cdc(
        functools.reduce(DataFrame.unionByName, images),
        dt.path, snap.partition_columns, snap=snap,
    )


def merge_delta(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: str,
    matched_update: dict[str, str] | None = None,
    matched_delete: bool = False,
    not_matched_insert: dict[str, str] | bool = True,
    retries: int = 0,
    matched_clauses: list[tuple[str | None, str, dict[str, str] | None]] | None = None,
    not_matched_clauses: list[tuple[str | None, dict[str, str] | bool]] | None = None,
    not_matched_by_source_clauses: (
        list[tuple[str | None, str, dict[str, str] | None]] | None
    ) = None,
    mode: str = "cow",
    schema_evolution: bool = False,
) -> dict[str, Any]:
    """``MERGE INTO <path> t USING source s ON <on>``.

    - ``on``: join condition; reference target columns as ``t.col`` and
      source columns as ``s.col``.
    - ``matched_update``: target-col -> SQL expr (``t.``/``s.`` visible);
      mutually exclusive with ``matched_delete``.
    - ``not_matched_insert``: ``True`` inserts source rows positionally by
      name (source must carry all target columns); a dict maps target-col ->
      expr over ``s.``; ``False`` disables inserts.
    - ``matched_clauses`` / ``not_matched_clauses``: the general conditional
      form (``WHEN [NOT] MATCHED AND <cond> THEN ...``), superseding the
      three legacy kwargs when given. ``matched_clauses`` is an ordered list
      of ``(condition | None, "update" | "delete", update_map | None)``;
      ``not_matched_clauses`` of ``(condition | None, insert_map | True)``.
      delta-spark semantics: clauses are evaluated in order, the FIRST whose
      condition holds applies, and a row qualifying for no clause is left
      as-is (matched) or not inserted (not-matched).
    - ``not_matched_by_source_clauses``: delta-spark's ``WHEN NOT MATCHED
      BY SOURCE`` (target rows with no source match) — same ordered
      ``(condition | None, "update" | "delete", update_map | None)`` shape
      as ``matched_clauses``; conditions and update expressions may
      reference target columns only. Supported in both cow and dv modes
      (dv: unmatched pre-images die in deletion vectors).

    Duplicate-match rule (Delta semantics): if any single target row
    matches more than one source row AND an update/delete clause could
    MODIFY it, the merge is ambiguous and raises. A multi-matched row
    whose matches all fail every (conditional) clause is not modified and
    therefore not ambiguous — the same rule delta-spark applies.

    ``mode="cow"`` (default) rewrites every affected file. ``mode="dv"``
    is merge-on-read: matched update/delete pre-images are recorded in
    per-file deletion vectors, and only updated post-images plus inserts
    are appended — delta-spark's default MERGE strategy since 3.1, and the
    difference between O(changed rows) and O(rewritten bytes) on a 100 TB
    target.

    ``schema_evolution=True`` is delta-spark's ``withSchemaEvolution()``:
    NEW top-level source columns are added to the table (nullable,
    metadata-only ``alter_columns`` commit — existing files simply lack
    them and read back as NULL), and target columns the source lacks are
    NULL-filled on the source side so ``INSERT *`` keeps working across
    the widened schema. Divergence, documented: delta-spark folds the
    schema change into the merge's own commit; here it is a separate
    metadata commit immediately before (one extra log version, same end
    state — a concurrent-writer race between the two commits is caught by
    the normal conflict detection). Nested-struct evolution is out of
    scope.

    Plan shape (copy-on-write): two Spark actions. The first scans the
    target with its physical row identity, left-joins the source, and
    collects per touched file the ambiguity count and the per-clause row
    counts; a file is touched when some row in it takes a clause, so a
    file whose matches all fail every conditional clause is never
    rewritten. The second rewrites the touched files (the target side of
    its join is only that subset) plus the inserted rows in one write,
    bounded to as many files as it replaces. Spark's own size estimate
    decides whether the source is broadcast.
    """
    if matched_clauses is None:
        if matched_update and matched_delete:
            raise ValueError(
                "matched_update and matched_delete are mutually exclusive"
            )
        matched_clauses = []
        if matched_update:
            matched_clauses.append((None, "update", matched_update))
        elif matched_delete:
            matched_clauses.append((None, "delete", None))
    if not_matched_clauses is None:
        not_matched_clauses = (
            [(None, not_matched_insert)] if not_matched_insert else []
        )
    not_matched_by_source_clauses = not_matched_by_source_clauses or []
    for _c, kind, upd in matched_clauses:
        if kind not in ("update", "delete"):
            raise ValueError(f"unknown matched-clause kind: {kind!r}")
        if kind == "update" and not upd:
            raise ValueError("update clause requires a SET map")
    for _c, kind, upd in not_matched_by_source_clauses:
        if kind not in ("update", "delete"):
            raise ValueError(
                f"unknown not-matched-by-source clause kind: {kind!r}"
            )
        if kind == "update" and not upd:
            raise ValueError("by-source update clause requires a SET map")
    if schema_evolution:
        from .delta import _load_snapshot, alter_columns

        tbl_path = _strip_file_scheme(path)
        # case-INSENSITIVE name match (Spark's default resolution): a
        # source column differing only in case must not evolve into a
        # duplicate column that makes every later reference ambiguous
        tnames = {
            f.name.lower() for f in _load_snapshot(tbl_path).schema.fields
        }
        adds = {
            f.name: f.dataType.simpleString()
            for f in source.schema.fields
            if f.name.lower() not in tnames
        }
        if adds:
            alter_columns(tbl_path, adds=adds)
        # NULL-fill target columns the source lacks (cast to the target
        # type) so positional INSERT * spans the evolved schema.
        post = _load_snapshot(tbl_path).schema.fields
        # canonicalize case-variant source columns to the TARGET's exact
        # spelling so positional INSERT * and clause resolution line up
        canon = {f.name.lower(): f.name for f in post}
        for c in list(source.columns):
            want = canon.get(c.lower())
            if want is not None and want != c:
                source = source.withColumnRenamed(c, want)
        snames = {c.lower() for c in source.columns}
        for f in post:
            if f.name.lower() not in snames:
                source = source.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
    if mode == "dv":
        return _retrying(
            lambda: _merge_dv_once(
                spark, path, source, on, matched_clauses,
                not_matched_clauses, not_matched_by_source_clauses,
            ),
            retries,
        )
    if mode != "cow":
        raise ValueError(f"unknown merge mode {mode!r} (cow | dv)")
    return _retrying(
        lambda: _merge_once(
            spark, path, source, on, matched_clauses, not_matched_clauses,
            not_matched_by_source_clauses,
        ),
        retries,
    )


def _merge_once(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: str,
    matched_clauses: list[tuple[str | None, str, dict[str, str] | None]],
    not_matched_clauses: list[tuple[str | None, dict[str, str] | bool]],
    by_source_clauses: (
        list[tuple[str | None, str, dict[str, str] | None]] | tuple
    ) = (),
) -> dict[str, Any]:
    dt = DeltaTable(path)
    snap = dt.snapshot
    # Insert-only MERGE removes no files — legal on appendOnly tables.
    _check_writable(
        dt,
        removes_files=bool(matched_clauses or by_source_clauses),
        cdf_capable=True,
    )
    cdf = cdf_enabled(snap)
    tcols = [f.name for f in snap.schema.fields]
    on_expr = F.expr(on)
    _validate_merge_clauses(
        dt, source, matched_clauses, not_matched_clauses, tcols,
        by_source_clauses=by_source_clauses,
    )
    # Alias AFTER adding the match marker: withColumn would drop the alias.
    src = source.withColumn("__s_hit", F.lit(True)).alias("s")
    now_ms = int(time.time() * 1000)

    # Action 1: which files some clause modifies, the ambiguity check and
    # the per-clause row counts. An insert-only MERGE never touches
    # existing rows (and duplicate source matches are not ambiguous for
    # it), so it skips this scan and the rewrite.
    affected: list[str] = []
    n_updated = n_deleted = 0
    if (matched_clauses or by_source_clauses) and snap.files:
        rows, n_updated, n_deleted = _touched_files(
            _merge_join(
                dt.to_df(spark, with_location=True), src, on_expr,
                matched_clauses, by_source_clauses,
            ),
            matched_clauses, by_source_clauses,
        )
        affected = _canon_rels(dt, [r["__src_fp"] for r in rows])

    # Action 2: the touched files rewritten and the inserted rows, one
    # write. With a matched clause that has no condition, every match
    # modifies its row, so after the ambiguity check each target row has
    # at most one match. Otherwise a row can carry no-op matches next to
    # the applying one (or only no-op matches): keep one joined row per
    # physical row, the applying one first.
    unconditional = any(c is None for c, _k, _u in matched_clauses)
    joined = sub = kept = ins = None
    if affected:
        sub = _subset_df(spark, dt, affected, with_location=not unconditional)
        joined = _merge_join(
            sub, src, on_expr, matched_clauses, by_source_clauses
        )
        if not unconditional:
            w = Window.partitionBy("__src_fp", "__src_ri").orderBy(
                F.col("__act").desc()
            )
            joined = joined.withColumn(
                "__rn", F.row_number().over(w)
            ).filter(F.col("__rn") == 1)
        if cdf:
            joined = joined.cache()
        kept = joined.filter(
            ~_acting(matched_clauses, by_source_clauses, "delete")
        ).select(*_set_columns(snap, matched_clauses, by_source_clauses))
    if not_matched_clauses:
        ins = _merge_insert_rows(
            snap, src,
            _insert_base(spark, dt, matched_clauses, affected, sub),
            on_expr, not_matched_clauses,
        )

    adds: list[dict[str, Any]] = []
    n_inserted = 0
    cdc_actions: list[dict[str, Any]] = []
    try:
        if kept is not None or ins is not None:
            adds, n_inserted = _stage_merge_adds(
                dt, kept, ins, len(affected)
            )
        if cdf and affected:
            cdc_actions = _stage_merge_cdc(
                dt, joined, matched_clauses, by_source_clauses, ins
            )
    finally:
        if cdf and joined is not None:
            joined.unpersist()

    if not affected and not adds:
        return {
            "version": dt.version,
            "numTargetRowsUpdated": 0,
            "numTargetRowsDeleted": 0,
            "numTargetRowsInserted": 0,
        }
    metrics = {
        "numTargetRowsUpdated": n_updated,
        "numTargetRowsDeleted": n_deleted,
        "numTargetRowsInserted": n_inserted,
        "numRemovedFiles": len(affected),
        "numAddedFiles": len(adds),
    }
    actions = [_commit_info("MERGE", {"predicate": on}, metrics, now_ms)]
    actions += _removes(dt, affected, now_ms)
    actions += [{"add": a} for a in adds]
    actions += [{"cdc": c} for c in cdc_actions]
    version = _try_commit(
        dt.path, actions, adds, enable_ict=ict_enabled(snap), snap=snap,
    )
    return {"version": version, **metrics}


def _merge_dv_once(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: str,
    matched_clauses: list[tuple[str | None, str, dict[str, str] | None]],
    not_matched_clauses: list[tuple[str | None, dict[str, str] | bool]],
    by_source_clauses: (
        list[tuple[str | None, str, dict[str, str] | None]] | tuple
    ) = (),
) -> dict[str, Any]:
    """Merge-on-read MERGE: the pre-images of every row an update or
    delete clause (matched or by-source) modifies die via per-file
    deletion vectors; updated post-images and inserts are appended as new
    files in one write. No data file is rewritten. The modified row
    indexes come out of the same action as the ambiguity check and the
    counts (:func:`_touched_files`)."""
    dt = DeltaTable(path)
    snap = dt.snapshot
    if not snap.files:
        # zero-file table: no matched work is possible; the cow path
        # already handles the insert-only outcome (and the with_location
        # scan refuses an empty snapshot), so delegate
        return _merge_once(
            spark, path, source, on, matched_clauses, not_matched_clauses,
            by_source_clauses,
        )
    # Matched/by-source clauses remove ROWS (appendOnly must refuse them).
    _check_writable(
        dt,
        removes_files=bool(matched_clauses or by_source_clauses),
        cdf_capable=True,
    )
    cdf = cdf_enabled(snap)
    tcols = [f.name for f in snap.schema.fields]
    on_expr = F.expr(on)
    _validate_merge_clauses(
        dt, source, matched_clauses, not_matched_clauses, tcols,
        by_source_clauses=by_source_clauses,
    )
    now_ms = int(time.time() * 1000)
    src = source.withColumn("__s_hit", F.lit(True)).alias("s")

    new_per_file: dict[str, list[int]] = {}
    n_updated = n_deleted = 0
    if matched_clauses or by_source_clauses:
        rows, n_updated, n_deleted = _touched_files(
            _merge_join(
                dt.to_df(spark, with_location=True), src, on_expr,
                matched_clauses, by_source_clauses,
            ),
            matched_clauses, by_source_clauses, row_indexes=True,
        )
        new_per_file = _with_existing_dvs(dt, {
            rel: list(r["__idxs"])
            for r, rel in zip(
                rows, _canon_rels(dt, [r["__src_fp"] for r in rows])
            )
        })

    # Post-images (and CDF images) from a second scan of the DV'd files
    # only. Each modified row has exactly one applying joined row (the
    # ambiguity check), so no dedupe: no-op matches simply never pass
    # the filter, and untouched rows stay in their data files.
    touched = list(new_per_file)
    joined = sub = post = ins = None
    if touched and (n_updated or cdf):
        sub = _subset_df(spark, dt, touched)
        joined = _merge_join(
            sub, src, on_expr, matched_clauses, by_source_clauses
        )
        if cdf:
            joined = joined.cache()
        if n_updated:
            post = joined.filter(
                _acting(matched_clauses, by_source_clauses, "update")
            ).select(*_set_columns(snap, matched_clauses, by_source_clauses))
    if not_matched_clauses:
        ins = _merge_insert_rows(
            snap, src,
            _insert_base(spark, dt, matched_clauses, touched, sub),
            on_expr, not_matched_clauses,
        )

    adds: list[dict[str, Any]] = []
    n_inserted = 0
    cdc_actions: list[dict[str, Any]] = []
    try:
        if post is not None or ins is not None:
            adds, n_inserted = _stage_merge_adds(
                dt, post, ins, len(touched) if post is not None else 0
            )
        if cdf and touched:
            cdc_actions = _stage_merge_cdc(
                dt, joined, matched_clauses, by_source_clauses, ins
            )
    finally:
        if cdf and joined is not None:
            joined.unpersist()

    if not new_per_file and not adds:
        return {
            "version": dt.version,
            "numTargetRowsUpdated": 0,
            "numTargetRowsDeleted": 0,
            "numTargetRowsInserted": 0,
            "numDeletionVectorsAdded": 0,
        }
    metrics = {
        "numTargetRowsUpdated": n_updated,
        "numTargetRowsDeleted": n_deleted,
        "numTargetRowsInserted": n_inserted,
        "numDeletionVectorsAdded": len(new_per_file),
        "numAddedFiles": len(adds),
    }
    actions = [_commit_info("MERGE", {"predicate": on}, metrics, now_ms)]
    if new_per_file:
        actions += _dv_protocol_and_file_actions(dt, new_per_file, now_ms)
    actions += [{"add": a} for a in adds]
    actions += [{"cdc": c} for c in cdc_actions]
    version = _try_commit(
        dt.path, actions, adds, enable_ict=ict_enabled(snap), snap=snap,
    )
    return {"version": version, **metrics}
