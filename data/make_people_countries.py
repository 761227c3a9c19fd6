"""Generate the ``people_countries`` golden Delta table in
``data/people_countries_delta/``.

This is a re-creation of the reference's golden fixture
(``data/people_countries_delta_dask``), written without this engine's own
Delta writer so the golden-read tests check a table that ``write_delta``
did not produce. Every row and field comes from the project's documents:

- rows, schema and partitioning: FIXTURES.md §1 — the five golden rows
  of reference ``tests/local.rs:31-41``, the all-nullable
  ``struct<first_name, last_name, country, continent>`` schema, and
  ``country`` as the partition column. ``continent`` holds the *string*
  ``"NaN"``, not null;
- the log: SURVEY.md §1.1 — one commit, ``00000000000000000000.json``,
  whose lines are, in order, ``commitInfo``; ``protocol`` (1,2);
  ``metaData`` with the JSON ``schemaString`` and
  ``partitionColumns: ["country"]``; and one ``add`` per
  ``country=<v>/part-*.snappy.parquet`` file with ``partitionValues``,
  ``size`` and ``stats`` (``numRecords``, ``minValues``, ``maxValues``,
  ``nullCount``).

The data files are written by pyarrow; the stats are computed from the
files as written. ``engineInfo`` names this script, not Spark. Ids,
file names and timestamps are fixed, so a rerun with the same pyarrow
version reproduces the committed bytes.

Run: python data/make_people_countries.py [output_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_OUT = os.path.join(HERE, "people_countries_delta")

# (first_name, last_name, country, continent): reference tests/local.rs:31-41.
ROWS = [
    ("Bruce", "Lee", "China", "Asia"),
    ("Ernesto", "Guevara", "Argentina", "NaN"),
    ("Jack", "Ma", "China", "Asia"),
    ("Soraya", "Jala", "Germany", "NaN"),
    ("Wolfgang", "Manche", "Germany", "NaN"),
]
COLUMNS = ["first_name", "last_name", "country", "continent"]
PARTITION = "country"
DATA_COLUMNS = [c for c in COLUMNS if c != PARTITION]

ENGINE_INFO = "data/make_people_countries.py"
# Arbitrary fixed instants (ms since epoch) so reruns are byte-identical.
COMMIT_TS = 1_690_000_000_000
TABLE_ID = str(uuid.uuid5(uuid.NAMESPACE_URL, "people_countries/metaData"))
TXN_ID = str(uuid.uuid5(uuid.NAMESPACE_URL, "people_countries/commitInfo"))


def _schema_string() -> str:
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": c, "type": "string", "nullable": True, "metadata": {}}
                for c in COLUMNS
            ],
        },
        separators=(",", ":"),
    )


def _stats(path: str) -> str:
    """numRecords/minValues/maxValues/nullCount of one written file."""
    t = pq.read_table(path)
    return json.dumps(
        {"numRecords": t.num_rows,
         "minValues": {c: pc.min(t[c]).as_py() for c in DATA_COLUMNS},
         "maxValues": {c: pc.max(t[c]).as_py() for c in DATA_COLUMNS},
         "nullCount": {c: t[c].null_count for c in DATA_COLUMNS}},
        separators=(",", ":"),
    )


def _write_files(out: str) -> list[dict]:
    """One snappy parquet file per country, data columns only; returns the
    ``add`` actions in partition-value order."""
    adds = []
    for country in sorted({r[2] for r in ROWS}):
        rows = [r for r in ROWS if r[2] == country]
        table = pa.table(
            {c: pa.array([r[COLUMNS.index(c)] for r in rows], pa.string())
             for c in DATA_COLUMNS}
        )
        file_id = uuid.uuid5(uuid.NAMESPACE_URL, f"people_countries/{country}")
        rel = f"{PARTITION}={country}/part-00000-{file_id}.c000.snappy.parquet"
        path = os.path.join(out, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, compression="snappy")
        adds.append({"add": {
            "path": rel,
            "partitionValues": {PARTITION: country},
            "size": os.path.getsize(path),
            "modificationTime": COMMIT_TS,
            "dataChange": True,
            "stats": _stats(path),
        }})
    return adds


def main(out: str = DEFAULT_OUT) -> None:
    shutil.rmtree(out, ignore_errors=True)
    adds = _write_files(out)
    actions = [
        {"commitInfo": {
            "timestamp": COMMIT_TS,
            "operation": "WRITE",
            "operationParameters": {
                "mode": "ErrorIfExists",
                "partitionBy": json.dumps([PARTITION]),
            },
            "isolationLevel": "Serializable",
            "isBlindAppend": True,
            "operationMetrics": {
                "numFiles": str(len(adds)),
                "numOutputRows": str(len(ROWS)),
                "numOutputBytes": str(sum(a["add"]["size"] for a in adds)),
            },
            "engineInfo": ENGINE_INFO,
            "txnId": TXN_ID,
        }},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": TABLE_ID,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema_string(),
            "partitionColumns": [PARTITION],
            "configuration": {},
            "createdTime": COMMIT_TS,
        }},
        *adds,
    ]
    log = os.path.join(out, "_delta_log")
    os.makedirs(log)
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a, separators=(",", ":")) + "\n")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_OUT)
