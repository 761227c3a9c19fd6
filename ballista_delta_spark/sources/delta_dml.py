"""Delta DML — DELETE / UPDATE / MERGE as copy-on-write commits.

Reference context: the reference's write surface is a factory that errors
("At the moment INSERT does not work", reference src/lib.rs:140-174;
tests/local.rs:100-103 asserts the failure), so row-level DML has no
reference analogue at all — this module is part of the "exceed the
reference" Delta surface (SURVEY.md §2.1), matching what delta-spark /
delta-rs users actually run (`DELETE FROM`, `UPDATE ... SET`, `MERGE INTO`).

Copy-on-write, the way delta-spark implements it:

1. **Find affected files** — one distributed scan attributes every matching
   row to its parquet file (its ``_metadata.file_path`` key, mapped to the
   add action on the driver once per file); only files that contain at
   least one matching row are touched. Partition pruning applies to this
   scan (a predicate on a partition column prunes directories before
   listing), so a partition-aligned DELETE never reads non-matching
   partitions at all.
2. **Metadata-only fast path (DELETE)** — a file whose every row matches
   (per-file matched-count == the add action's ``numRecords`` stat) is
   dropped with a ``remove`` action and never read again; zero rewrite I/O.
   This is what makes partition-aligned deletes O(metadata) — the common
   retention case (``DELETE WHERE ds < ...``) at 100 TB.
3. **Rewrite survivors** — only partially-matching files are re-scanned and
   rewritten through the same distributed staging writer as ``write_delta``;
   the commit pairs their ``remove`` actions with the new ``add`` actions,
   all under the same optimistic-concurrency version claim.

Scale note: steps 1 and 3 are Spark jobs over only the relevant files; the
driver handles O(#affected-files) bookkeeping — identical cost shape to
delta-spark's own DeleteCommand/UpdateCommand/MergeIntoCommand.
"""

from __future__ import annotations

import copy
import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .delta import (
    DeltaTable,
    ENGINE_INFO,
    _file_key,
    _fs_join,
    _fs_rel,
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


def _subset_df(spark: SparkSession, dt: DeltaTable, rels: list[str]) -> DataFrame:
    """Scan of only the given active files (partition columns included).

    Point lookups, not items(): a 2-file DELETE on a checkpoint-backed
    million-add table must materialize 2 add dicts, not all of them."""
    sub = DeltaTable.__new__(DeltaTable)
    sub.path = dt.path
    sub.snapshot = copy.copy(dt.snapshot)
    sub.snapshot.files = {r: dt.snapshot.files[r] for r in rels}
    return sub.to_df(spark)


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
    from .delta import _as_dict
    from . import dv as _dv

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
    # Merge with any existing DV on the same file (union of row indexes).
    for rel in new_per_file:
        old = dt.snapshot.files[rel].get("deletionVector")
        if old:
            new_per_file[rel] = sorted(
                set(new_per_file[rel])
                | set(_dv.read_deletion_vector(dt.path, _as_dict(old)))
            )
    return new_per_file, n_marked


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

    affected = _canon_rels(dt, [
        r[_FILE_COL]
        for r in _attributed(spark, dt).filter(cond).select(_FILE_COL).distinct().collect()
    ])
    if not affected:
        return {"version": dt.version, "numUpdatedRows": 0, "numRewrittenFiles": 0}

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

    n_updated = sub.filter(cond).count()
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


def _merge_insert_rows(
    dt: DeltaTable,
    src: DataFrame,
    anti_base: DataFrame,
    on_expr,
    not_matched_clauses: list[tuple[str | None, dict[str, str] | bool]],
    tcols: list[str],
) -> DataFrame:
    """Source rows qualifying for a WHEN NOT MATCHED clause (first-match-
    wins; a row qualifying for none is not inserted), projected and cast to
    the target schema."""
    unmatched = src.join(anti_base, on_expr, "left_anti")
    iact = F.lit(-1)
    for i in reversed(range(len(not_matched_clauses))):
        cond_sql, _spec = not_matched_clauses[i]
        cc = F.expr(cond_sql) if cond_sql is not None else F.lit(True)
        iact = F.when(cc, F.lit(i)).otherwise(iact)
    unmatched = (
        unmatched.withColumn("__iact", iact).filter(F.col("__iact") >= 0)
    )
    out = []
    for c in tcols:
        col = F.lit(None)
        for i, (_c0, spec) in enumerate(not_matched_clauses):
            val = (
                F.col(f"s.{c}") if spec is True
                else (F.expr(spec[c]) if c in spec else F.lit(None))
            )
            col = F.when(F.col("__iact") == i, val).otherwise(col)
        out.append(col.alias(c))
    ins = unmatched.select(*out)
    typed = dict((f.name, f.dataType) for f in dt.snapshot.schema.fields)
    return ins.select(*[F.col(c).cast(typed[c]).alias(c) for c in tcols])


def _stage_insert_adds(
    dt: DeltaTable, ins: DataFrame
) -> tuple[list[dict[str, Any]], int]:
    """Stage insert rows and read numTargetRowsInserted off the add-action
    stats (every add carries numRecords) instead of running a separate
    count() job first — one Spark job instead of two per MERGE. File sizing
    is delegated to AQE partition coalescing (the insert set is post-join
    shuffle output, so AQE already packs it into advisory-sized
    partitions); zero-row part files are dropped from the commit and the
    table dir."""
    if active_constraints(dt.snapshot):
        enforce_constraints(ins, dt.snapshot)
    ins_adds = _stage_adds(
        ins, dt.path, dt.snapshot.partition_columns, dt.snapshot.schema, snap=dt.snapshot
    )
    adds: list[dict[str, Any]] = []
    n_inserted = 0
    for a in ins_adds:
        n_rec = json.loads(a.get("stats") or "{}").get("numRecords", 0)
        if n_rec:
            n_inserted += n_rec
            adds.append(a)
        else:
            try:
                os.remove(os.path.join(dt.path, _fs_rel(a["path"])))
            except OSError:
                pass
    return adds, n_inserted


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

    Plan shape: target rows never leave executors except per-file match
    counts; the target side of every join is only the AFFECTED-file subset;
    the source is typically the small side (broadcast candidate). Identical
    target rows are merged via a (row-values, multiplicity) representation —
    groupBy all columns — so the duplicate-source check needs no synthetic
    row id and stays a plain aggregate. When EVERY matched clause is
    conditional, the affected-file scan predicate is narrowed to
    ``on AND (cond1 OR cond2 ...)`` so files whose matches all fail the
    conditions are never rewritten.
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
    # Insert-only MERGE removes no files — legal on appendOnly tables.
    _check_writable(
        dt,
        removes_files=bool(matched_clauses or by_source_clauses),
        cdf_capable=True,
    )
    cdf = cdf_enabled(dt.snapshot)
    cdc_actions: list[dict[str, Any]] = []
    tcols = [f.name for f in dt.snapshot.schema.fields]
    on_expr = F.expr(on)
    _validate_merge_clauses(
        dt, source, matched_clauses, not_matched_clauses, tcols,
        by_source_clauses=by_source_clauses,
    )

    # Insert-only MERGE (no matched/by-source clauses) never touches
    # existing rows: skip the affected-file scan AND the rewrite — matched
    # target rows are left in place (so no spurious dataChange add/remove
    # actions for CDC readers to misread), and duplicate source matches
    # are NOT ambiguous (delta-spark semantics: ambiguity only applies to
    # update/delete).
    insert_only = not matched_clauses and not by_source_clauses
    # All-conditional matched clauses narrow the affected-file predicate:
    # a file whose matches all fail every clause condition is untouched.
    affected_pred = on_expr
    m_conds = [c for c, _k, _u in matched_clauses]
    if matched_clauses and all(c is not None for c in m_conds):
        any_cond = " OR ".join(f"({c})" for c in m_conds)
        affected_pred = F.expr(f"({on}) AND ({any_cond})")
    affected_matched = [] if not matched_clauses else _canon_rels(dt, [
        r[_FILE_COL]
        for r in (
            _attributed(spark, dt)
            .alias("t")
            .join(source.alias("s"), affected_pred, "left_semi")
            .select(_FILE_COL)
            .distinct()
            .collect()
        )
    ])
    # WHEN NOT MATCHED BY SOURCE touches target rows with NO source match:
    # its affected files come from an ANTI-join (narrowed by the clause
    # conditions when all are conditional — t-side expressions, legal on
    # the anti-join result where only t is in scope).
    affected_bs: list[str] = []
    if by_source_clauses:
        bs_scan = (
            _attributed(spark, dt)
            .alias("t")
            .join(source.alias("s"), on_expr, "left_anti")
        )
        bs_conds = [c for c, _k, _u in by_source_clauses]
        if all(c is not None for c in bs_conds):
            bs_scan = bs_scan.filter(
                F.expr(" OR ".join(f"({c})" for c in bs_conds))
            )
        affected_bs = _canon_rels(dt, [
            r[_FILE_COL]
            for r in bs_scan.select(_FILE_COL).distinct().collect()
        ])
    affected = sorted(set(affected_matched) | set(affected_bs))

    now_ms = int(time.time() * 1000)
    # Alias AFTER adding the match marker: withColumn would drop the alias.
    src = source.withColumn("__s_hit", F.lit(True)).alias("s")
    n_updated = n_deleted = 0
    adds: list[dict[str, Any]] = []
    removes: list[dict[str, Any]] = []

    if affected:
        from pyspark.sql import types as _T

        map_cols = [
            f.name for f in dt.snapshot.schema.fields
            if isinstance(f.dataType, _T.MapType)
        ]
        if map_cols:
            raise ValueError(
                "copy-on-write MERGE with matched clauses cannot group on "
                f"map-typed column(s) {map_cols} — use mode='dv' (row "
                "identity is (file, index), no grouping on values)"
            )
        # Distinct target rows + multiplicity: m identical rows merge to m
        # identical outputs, so (values, count) is a lossless representation
        # that gives every target row a usable identity for the dup check.
        tgt = (
            _subset_df(spark, dt, affected)
            .groupBy(*tcols)
            .agg(F.count(F.lit(1)).alias("__m"))
            .alias("t")
        )
        # First-match-wins clause id per row: __act = index of the first
        # clause whose condition holds (for a matched row), -1 = no clause
        # applies (row kept as-is). Computed BEFORE cache so every
        # downstream job sees one consistent assignment.
        hit = F.col("__s_hit").isNotNull()
        act = F.lit(-1)
        for i in reversed(range(len(matched_clauses))):
            cond_sql, _kind, _upd = matched_clauses[i]
            cc = hit & (F.expr(cond_sql) if cond_sql is not None else F.lit(True))
            act = F.when(cc, F.lit(i)).otherwise(act)
        # First-match-wins BY-SOURCE action for UNMATCHED rows (s side all
        # null, so conditions may only reference t — Spark resolves the
        # usual way and a null condition is simply false).
        bsact = F.lit(-1)
        for i in reversed(range(len(by_source_clauses))):
            cond_sql, _kind, _upd = by_source_clauses[i]
            cc = (~hit) & (
                F.expr(cond_sql) if cond_sql is not None else F.lit(True)
            )
            bsact = F.when(cc, F.lit(i)).otherwise(bsact)
        joined = (
            tgt.join(src, on_expr, "left")
            .withColumn("__act", act)
            .withColumn("__bsact", bsact)
            .cache()
        )
        try:
            # ONE job: per-target-row match counts roll up into the
            # ambiguity count and the per-clause matched-row totals.
            per_clause = [
                F.sum(
                    F.when(F.col("__a") == i, F.col("__m")).otherwise(0)
                ).alias(f"n{i}")
                for i in range(len(matched_clauses))
            ]
            delete_ids = [
                i for i, (_c, k, _u) in enumerate(matched_clauses)
                if k == "delete"
            ]
            n_updated = n_deleted = 0
            if matched_clauses:
                # Group on target identity ONLY (a row matched by two
                # source rows must land in one group for the dup check);
                # __k == 1 after the check, so max(__act) IS the row's
                # single act.
                stats = (
                    joined.filter(hit)
                    .groupBy(*[F.col(f"t.{c}") for c in tcols], "__m")
                    .agg(
                        # delta-spark's cardinality rule: multiple matches
                        # are ambiguous only when MORE THAN ONE of them
                        # would modify the row (some clause applies,
                        # __act >= 0); matches that fail every conditional
                        # clause are no-ops and never nondeterministic.
                        F.sum(
                            F.when(F.col("__act") >= 0, 1).otherwise(0)
                        ).alias("__k"),
                        F.max("__act").alias("__a"),
                    )
                    .agg(
                        F.sum(
                            F.when(F.col("__k") > 1, 1).otherwise(0)
                        ).alias("dups"),
                        *per_clause,
                    )
                    .collect()[0]
                )
                if stats["dups"]:
                    raise ValueError(
                        f"MERGE is ambiguous: {stats['dups']} target row(s) "
                        "would be modified by multiple source rows"
                    )
                n_updated = sum(
                    int(stats[f"n{i}"] or 0)
                    for i, (_c, k, _u) in enumerate(matched_clauses)
                    if k == "update"
                )
                n_deleted = sum(int(stats[f"n{i}"] or 0) for i in delete_ids)
            bs_delete_ids = [
                i for i, (_c, k, _u) in enumerate(by_source_clauses)
                if k == "delete"
            ]
            if by_source_clauses:
                # Unmatched rows join to at most one (null) source row —
                # no ambiguity; one small agg yields per-clause counts.
                bs_stats = joined.filter(~hit).agg(*[
                    F.sum(
                        F.when(F.col("__bsact") == i, F.col("__m"))
                        .otherwise(0)
                    ).alias(f"b{i}")
                    for i in range(len(by_source_clauses))
                ]).collect()[0]
                n_updated += sum(
                    int(bs_stats[f"b{i}"] or 0)
                    for i, (_c, k, _u) in enumerate(by_source_clauses)
                    if k == "update"
                )
                n_deleted += sum(
                    int(bs_stats[f"b{i}"] or 0) for i in bs_delete_ids
                )
            survivors = joined
            # Dedup to ONE joined row per target when no-op matched copies
            # can coexist with an applying one (conditional clauses), and
            # whenever by-source clauses forced by-source-only files into
            # the rewrite (a matched row there may carry several no-op
            # matches that would otherwise duplicate it).
            if by_source_clauses or any(
                c0 is not None for c0, _k, _u in matched_clauses
            ):
                # Conditional clauses allow a target row to carry BOTH an
                # applying match (__act >= 0, exactly one post-check) and
                # no-op matches (__act = -1): keep one joined row per
                # target — the highest-action one — or the no-op copies
                # would duplicate the row in the rewrite.
                from pyspark.sql.window import Window as _W

                w = _W.partitionBy(
                    *[F.col(f"t.{c}") for c in tcols], "__m"
                ).orderBy(F.col("__act").desc())
                survivors = (
                    joined.filter(hit)
                    .withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                    # positional union: both branches are the same joined
                    # projection, whose t/s sides share column names —
                    # unionByName cannot resolve duplicates
                    .union(joined.filter(~hit))
                )
            if delete_ids:
                survivors = survivors.filter(~F.col("__act").isin(delete_ids))
            if bs_delete_ids:
                survivors = survivors.filter(
                    ~F.col("__bsact").isin(bs_delete_ids)
                )
            out_cols = []
            typed = dict((f.name, f.dataType) for f in dt.snapshot.schema.fields)
            for c in tcols:
                col = F.col(f"t.{c}")
                # Chain per-clause updates innermost-last so clause order is
                # irrelevant (each row carries exactly one __act/__bsact).
                for i, (_c0, kind, upd) in enumerate(matched_clauses):
                    if kind == "update" and c in upd:
                        col = F.when(
                            F.col("__act") == i, F.expr(upd[c])
                        ).otherwise(col)
                for i, (_c0, kind, upd) in enumerate(by_source_clauses):
                    if kind == "update" and c in upd:
                        col = F.when(
                            F.col("__bsact") == i, F.expr(upd[c])
                        ).otherwise(col)
                out_cols.append(col.cast(typed[c]).alias(c))
            rewritten = (
                survivors.select(*out_cols, "__m")
                # Re-expand multiplicities dropped by the groupBy.
                .withColumn("__i", F.explode(F.expr("sequence(1, __m)")))
                .select(*tcols)
            )
            if active_constraints(dt.snapshot):
                enforce_constraints(rewritten, dt.snapshot)
            adds += _stage_adds(
                _sized(rewritten, len(affected)),
                dt.path, dt.snapshot.partition_columns, dt.snapshot.schema, snap=dt.snapshot
            )
            if cdf:
                # CDF images for the matched side, staged while ``joined``
                # is still cached: update pre/post pairs and delete rows,
                # multiplicities re-expanded like the rewrite.
                def _img(frame, ct, cols_sel):
                    return (
                        frame.select(*cols_sel, "__m")
                        .withColumn("__i", F.explode(F.expr("sequence(1, __m)")))
                        .select(*tcols)
                        .withColumn("_change_type", F.lit(ct))
                    )

                t_cols_sel = [F.col(f"t.{c}").alias(c) for c in tcols]
                upd_ids = [
                    i for i, (_c1, k, _u) in enumerate(matched_clauses)
                    if k == "update"
                ]
                parts = []
                if upd_ids:
                    hit_upd = joined.filter(F.col("__act").isin(upd_ids))
                    parts.append(_img(hit_upd, "update_preimage", t_cols_sel))
                    parts.append(_img(hit_upd, "update_postimage", out_cols))
                if delete_ids:
                    parts.append(_img(
                        joined.filter(F.col("__act").isin(delete_ids)),
                        "delete", t_cols_sel,
                    ))
                bs_upd_ids = [
                    i for i, (_c1, k, _u) in enumerate(by_source_clauses)
                    if k == "update"
                ]
                if bs_upd_ids:
                    bs_upd = joined.filter(F.col("__bsact").isin(bs_upd_ids))
                    parts.append(_img(bs_upd, "update_preimage", t_cols_sel))
                    parts.append(_img(bs_upd, "update_postimage", out_cols))
                if bs_delete_ids:
                    parts.append(_img(
                        joined.filter(F.col("__bsact").isin(bs_delete_ids)),
                        "delete", t_cols_sel,
                    ))
                if parts:
                    u = parts[0]
                    for p_df in parts[1:]:
                        u = u.unionByName(p_df)
                    cdc_actions += _stage_cdc(
                        u, dt.path, dt.snapshot.partition_columns, snap=dt.snapshot
                    )
        finally:
            joined.unpersist()
        removes = _removes(dt, affected, now_ms)

    n_inserted = 0
    if not_matched_clauses:
        # Anti-join base: when affected == every file with ANY match, a
        # source row matching any target row matches an affected-file row,
        # so the (small) affected subset suffices. When the affected scan
        # was narrowed by clause conditions that guarantee no longer holds
        # — fall back to the full target.
        # The subset shortcut requires affected ⊇ every file with a match,
        # which only the UNnarrowed matched-clause semi-join guarantees —
        # a by-source-only affected set comes from an anti-join and would
        # treat matched source rows as unmatched (spurious inserts).
        narrowed = affected_pred is not on_expr
        anti_base = (
            _subset_df(spark, dt, affected).alias("t")
            if affected_matched and not narrowed
            else dt.to_df(spark).alias("t")
        )
        ins = _merge_insert_rows(
            dt, src, anti_base, on_expr, not_matched_clauses, tcols
        )
        ins_adds, n_inserted = _stage_insert_adds(dt, ins)
        adds += ins_adds

    if not removes and not adds:
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
        "numRemovedFiles": len(removes),
        "numAddedFiles": len(adds),
    }
    if cdf and n_inserted and (removes or cdc_actions):
        # A commit that mixes inserts with removes/updates is read
        # exclusively through cdc — the inserted rows must be in it too.
        # (A pure-insert MERGE commit stays derivable; no cdc needed.)
        cdc_actions += _stage_cdc(
            ins.withColumn("_change_type", F.lit("insert")),
            dt.path, dt.snapshot.partition_columns, snap=dt.snapshot
        )
    actions = [_commit_info("MERGE", {"predicate": on}, metrics, now_ms)]
    actions += removes
    actions += [{"add": a} for a in adds]
    actions += [{"cdc": c} for c in cdc_actions]
    version = _try_commit(
        dt.path, actions, adds, enable_ict=ict_enabled(dt.snapshot),
        snap=dt.snapshot,
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
    """Merge-on-read MERGE: matched update/delete pre-images die via
    per-file deletion vectors; updated post-images and inserts are
    appended as new files. No data file is rewritten.

    The physical row identity (``__src_fp``, ``__src_ri``) the DV path
    needs anyway doubles as the duplicate-match key, so the ambiguity
    check is a plain groupBy — no (values, multiplicity) representation
    like the copy-on-write path."""
    dt = DeltaTable(path)
    if not dt.snapshot.files:
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
    cdf = cdf_enabled(dt.snapshot)
    cdc_actions: list[dict[str, Any]] = []
    tcols = [f.name for f in dt.snapshot.schema.fields]
    typed = dict((f.name, f.dataType) for f in dt.snapshot.schema.fields)
    on_expr = F.expr(on)
    _validate_merge_clauses(
        dt, source, matched_clauses, not_matched_clauses, tcols,
        by_source_clauses=by_source_clauses,
    )

    now_ms = int(time.time() * 1000)
    src = source.withColumn("__s_hit", F.lit(True)).alias("s")
    n_updated = n_deleted = 0
    adds: list[dict[str, Any]] = []
    new_per_file: dict[str, list[int]] = {}

    if matched_clauses:
        tgt = dt.to_df(spark, with_location=True).alias("t")
        hit = F.col("__s_hit").isNotNull()
        # First-match-wins clause id per row (-1 = no clause applies, row
        # kept as-is), computed BEFORE cache for one consistent assignment.
        act = F.lit(-1)
        for i in reversed(range(len(matched_clauses))):
            cond_sql, _kind, _upd = matched_clauses[i]
            cc = hit & (
                F.expr(cond_sql) if cond_sql is not None else F.lit(True)
            )
            act = F.when(cc, F.lit(i)).otherwise(act)
        joined = (
            tgt.join(src, on_expr, "left").withColumn("__act", act).cache()
        )
        try:
            per_clause = [
                F.sum(
                    F.when(F.col("__a") == i, 1).otherwise(0)
                ).alias(f"n{i}")
                for i in range(len(matched_clauses))
            ]
            stats = (
                joined.filter(hit)
                .groupBy("t.__src_fp", "t.__src_ri")
                .agg(
                    # Same cardinality rule as the cow path: only matches
                    # that MODIFY the row (__act >= 0) count toward
                    # ambiguity; the DV path needs no survivor dedupe —
                    # untouched rows simply stay in their data files.
                    F.sum(
                        F.when(F.col("__act") >= 0, 1).otherwise(0)
                    ).alias("__k"),
                    F.max("__act").alias("__a"),
                )
                .agg(
                    F.sum(
                        F.when(F.col("__k") > 1, 1).otherwise(0)
                    ).alias("dups"),
                    *per_clause,
                )
                .collect()[0]
            )
            if stats["dups"]:
                raise ValueError(
                    f"MERGE is ambiguous: {stats['dups']} target row(s) "
                    "would be modified by multiple source rows"
                )
            upd_ids = [
                i for i, (_c, k, _u) in enumerate(matched_clauses)
                if k == "update"
            ]
            delete_ids = [
                i for i, (_c, k, _u) in enumerate(matched_clauses)
                if k == "delete"
            ]
            n_updated = sum(int(stats[f"n{i}"] or 0) for i in upd_ids)
            n_deleted = sum(int(stats[f"n{i}"] or 0) for i in delete_ids)
            # Every row a clause touched (update OR delete) dies in a DV;
            # updates come back as appended post-images.
            touched = joined.filter(F.col("__act") >= 0)
            new_per_file, _n = _dv_mark_rows(
                spark, dt,
                touched.select("t.__src_fp", "t.__src_ri"),
            )
            # n_updated gates the staging: with zero clause-touched rows
            # (every match failed every condition) an unconditional
            # _stage_adds would still write a 0-row part-file and commit
            # a spurious version.
            if upd_ids and n_updated:
                out_cols = []
                for c in tcols:
                    col = F.col(f"t.{c}")
                    for i, (_c0, kind, upd) in enumerate(matched_clauses):
                        if kind == "update" and c in upd:
                            col = F.when(
                                F.col("__act") == i, F.expr(upd[c])
                            ).otherwise(col)
                    out_cols.append(col.cast(typed[c]).alias(c))
                hit_upd = joined.filter(F.col("__act").isin(upd_ids))
                post = hit_upd.select(*out_cols)
                if active_constraints(dt.snapshot):
                    enforce_constraints(post, dt.snapshot)
                adds += _stage_adds(
                    _sized(post, max(len(new_per_file), 1)),
                    dt.path, dt.snapshot.partition_columns,
                    dt.snapshot.schema, snap=dt.snapshot
                )
                if cdf:
                    t_sel = [F.col(f"t.{c}").alias(c) for c in tcols]
                    pre = hit_upd.select(*t_sel).withColumn(
                        "_change_type", F.lit("update_preimage")
                    )
                    post_img = post.withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                    cdc_actions += _stage_cdc(
                        pre.unionByName(post_img), dt.path,
                        dt.snapshot.partition_columns, snap=dt.snapshot
                    )
            if cdf and delete_ids and n_deleted:
                t_sel = [F.col(f"t.{c}").alias(c) for c in tcols]
                cdc_actions += _stage_cdc(
                    joined.filter(F.col("__act").isin(delete_ids))
                    .select(*t_sel)
                    .withColumn("_change_type", F.lit("delete")),
                    dt.path, dt.snapshot.partition_columns, snap=dt.snapshot
                )
        except BaseException:
            joined.unpersist()  # by-source never runs on a raise
            raise
        finally:
            if not by_source_clauses:
                joined.unpersist()
            # else: the by-source block reads unmatched rows out of this
            # same cached join — it unpersists in its own finally.

    if by_source_clauses:
        bs = None
        try:
            # WHEN NOT MATCHED BY SOURCE, merge-on-read: unmatched target
            # rows taking a clause die in deletion vectors; by-source
            # UPDATEs come back as appended post-images (same shape as
            # matched updates). When the matched path already paid for
            # the target-left-join, the unmatched rows are its
            # null-source slice — one target scan serves both clause
            # families (delta-spark's full-outer shape) instead of a
            # second full anti-join scan.
            if matched_clauses:
                unmatched = (
                    joined.filter(F.col("__s_hit").isNull())
                    .select("t.*").alias("t")
                )
            else:
                unmatched = (
                    dt.to_df(spark, with_location=True).alias("t")
                    .join(src, on_expr, "left_anti")
                )
            bsact = F.lit(-1)
            for i in reversed(range(len(by_source_clauses))):
                cond_sql, _kind, _upd = by_source_clauses[i]
                cc = (
                    F.expr(cond_sql) if cond_sql is not None else F.lit(True)
                )
                bsact = F.when(cc, F.lit(i)).otherwise(bsact)
            bs = (
                unmatched.withColumn("__bsact", bsact)
                .filter(F.col("__bsact") >= 0)
                .cache()
            )
            bs_upd_ids = [
                i for i, (_c, k, _u) in enumerate(by_source_clauses)
                if k == "update"
            ]
            bs_counts = bs.agg(*[
                F.sum(
                    F.when(F.col("__bsact") == i, 1).otherwise(0)
                ).alias(f"b{i}")
                for i in range(len(by_source_clauses))
            ]).collect()[0]
            bs_upd = sum(int(bs_counts[f"b{i}"] or 0) for i in bs_upd_ids)
            bs_del = sum(
                int(bs_counts[f"b{i}"] or 0)
                for i, (_c, k, _u) in enumerate(by_source_clauses)
                if k == "delete"
            )
            n_updated += bs_upd
            n_deleted += bs_del
            if bs_upd or bs_del:
                bs_per_file, _n = _dv_mark_rows(
                    spark, dt, bs.select("__src_fp", "__src_ri"),
                )
                # Matched rows and unmatched rows are disjoint, but one
                # FILE can carry both kinds: union the per-file indexes
                # (each call already folds in the file's pre-existing DV).
                for f, idxs in bs_per_file.items():
                    if f in new_per_file:
                        new_per_file[f] = sorted(
                            set(new_per_file[f]) | set(idxs)
                        )
                    else:
                        new_per_file[f] = idxs
            if bs_upd:
                out_cols = []
                for c in tcols:
                    col = F.col(f"t.{c}")
                    for i, (_c0, kind, upd) in enumerate(by_source_clauses):
                        if kind == "update" and c in upd:
                            col = F.when(
                                F.col("__bsact") == i, F.expr(upd[c])
                            ).otherwise(col)
                    out_cols.append(col.cast(typed[c]).alias(c))
                bs_upd_rows = bs.filter(F.col("__bsact").isin(bs_upd_ids))
                post_bs = bs_upd_rows.select(*out_cols)
                if active_constraints(dt.snapshot):
                    enforce_constraints(post_bs, dt.snapshot)
                adds += _stage_adds(
                    _sized(post_bs, 1), dt.path,
                    dt.snapshot.partition_columns, dt.snapshot.schema,
                    snap=dt.snapshot,
                )
                if cdf:
                    t_sel = [F.col(f"t.{c}").alias(c) for c in tcols]
                    pre = bs_upd_rows.select(*t_sel).withColumn(
                        "_change_type", F.lit("update_preimage")
                    )
                    post_img = post_bs.withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                    cdc_actions += _stage_cdc(
                        pre.unionByName(post_img), dt.path,
                        dt.snapshot.partition_columns, snap=dt.snapshot
                    )
            if cdf and bs_del:
                t_sel = [F.col(f"t.{c}").alias(c) for c in tcols]
                cdc_actions += _stage_cdc(
                    bs.filter(~F.col("__bsact").isin(bs_upd_ids))
                    .select(*t_sel)
                    .withColumn("_change_type", F.lit("delete")),
                    dt.path, dt.snapshot.partition_columns, snap=dt.snapshot
                )
        finally:
            if bs is not None:
                bs.unpersist()
            if matched_clauses:
                joined.unpersist()

    n_inserted = 0
    ins = None
    if not_matched_clauses:
        ins = _merge_insert_rows(
            dt, src, dt.to_df(spark).alias("t"), on_expr,
            not_matched_clauses, tcols,
        )
        ins_adds, n_inserted = _stage_insert_adds(dt, ins)
        adds += ins_adds

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
    if cdf and n_inserted and (new_per_file or cdc_actions):
        # A commit that mixes inserts with DV'd updates/deletes is read
        # exclusively through cdc — the inserted rows must be in it too.
        cdc_actions += _stage_cdc(
            ins.withColumn("_change_type", F.lit("insert")),
            dt.path, dt.snapshot.partition_columns, snap=dt.snapshot
        )
    actions += [{"cdc": c} for c in cdc_actions]
    version = _try_commit(
        dt.path, actions, adds, enable_ict=ict_enabled(dt.snapshot),
        snap=dt.snapshot,
    )
    return {"version": version, **metrics}
