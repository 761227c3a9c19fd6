"""Deletion-vector read cost against a plain scan of the same files.

Usage: python tools/dv_read_bench.py [--reps 5] [--cpus N]

Builds two tables with the engine's own writer and DV DELETE in a
temporary directory (removed on exit; nothing is downloaded):

- ``big``: one file of 2^20 rows with every even row (2^19) deleted;
- ``small``: 16,000 rows in 8 files with 100 rows deleted.

For each, prints the median wall time of ``--reps`` runs, after one
warm-up, of a plain parquet scan of the snapshot's files that reads the
``_metadata.file_path`` / ``row_index`` columns, and of
``read_delta(...).count()``, plus their ratio.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _median_ms(fn, reps: int) -> float:
    fn()  # warm-up
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    from ballista_delta_spark.session import get_spark
    from ballista_delta_spark.sources.delta import (
        DeltaTable, read_delta, write_delta,
    )
    from ballista_delta_spark.sources.delta_dml import delete_delta

    spark = get_spark(
        "dv_read_bench", cpus=args.cpus,
        conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="dv_read_bench_")
    shapes = [
        # (name, rows, files, DV DELETE condition)
        ("big 2^20 rows, 1 file, 2^19 deleted", 1 << 20, 1, "id % 2 = 0"),
        ("small 16000 rows, 8 files, 100 deleted", 16000, 8, "id % 160 = 0"),
    ]
    try:
        print(f"{'shape':<42} {'plain_ms':>9} {'read_delta_ms':>14} {'ratio':>6}")
        for name, rows, files, cond in shapes:
            tbl = os.path.join(root, f"t{rows}")
            write_delta(spark.range(0, rows, 1, files).selectExpr("id"), tbl)
            delete_delta(spark, tbl, cond, mode="dv")
            dt = DeltaTable(tbl)
            paths = [os.path.join(tbl, rel) for rel in dt.snapshot.files]

            def plain():
                return (
                    spark.read.parquet(*paths)
                    .select("_metadata.file_path", "_metadata.row_index")
                    .filter("row_index >= 0 AND file_path IS NOT NULL")
                    .count()
                )

            def dv_read():
                return read_delta(spark, tbl).count()

            n_live = rows - spark.range(rows).filter(cond).count()
            got = dv_read()
            if got != n_live:
                raise SystemExit(f"{name}: read {got} rows, expected {n_live}")
            plain_ms = _median_ms(plain, args.reps)
            dv_ms = _median_ms(dv_read, args.reps)
            print(
                f"{name:<42} {plain_ms:>9.0f} {dv_ms:>14.0f} "
                f"{dv_ms / plain_ms:>6.2f}"
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
