"""ballista_delta_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of ``milenkovicm/ballista_delta``.

The reference (SURVEY.md) wires DataFusion + Ballista + delta-rs into "SQL
over Delta/Parquet tables, executed distributed". Here the same surface is
expressed Spark-first:

- ``session`` — SparkSession builder (the reference's
  ``custom_session_state``, src/lib.rs:30-42, becomes declarative Spark
  conf) and the ``sql`` entry point with the Delta DDL/DML dialect.
- ``sources`` — Delta Lake protocol reader/writer in pure Python (log
  parsing is driver-side metadata; data scans stay distributed Parquet):
  ``delta`` (log, snapshots, commits, data skipping, OPTIMIZE),
  ``delta_dml`` (MERGE/UPDATE/DELETE), ``delta_stream`` (streaming
  source), ``dv`` (deletion vectors), and ``registry`` (parquet/csv/json
  registration and URL scheme routing, the reference's
  ObjectStoreRegistry, src/object_store.rs:13-107).
- ``queries`` — the declared query surface (one entry per SURVEY.md §2
  id), each paired with a DuckDB oracle SQL string. It includes the
  operators beyond stock Spark (dedup, similarity search, text analysis,
  multimodal, streaming windows) and the ``joins.salted_join`` skew-join
  helper.
"""

__version__ = "0.1.0"
