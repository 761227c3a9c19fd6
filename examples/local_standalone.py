"""Local standalone session over the re-created golden Delta fixture —
the PySpark twin of reference examples/local_standalone.rs:10-51.

Where the reference wires Ballista codecs + a custom session state and
then registers a delta-rs table by hand, Spark needs only the session
builder and a temp view; and where the reference's INSERT is documented
broken (examples/local_standalone.rs:38-47), the same SQL here commits a
real Delta version.

Run: python examples/local_standalone.py [table_path]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import tempfile

from ballista_delta_spark.session import get_spark, sql
from ballista_delta_spark.sources.delta import read_delta, write_delta

FIXTURE = os.path.join(REPO, "data", "people_countries_delta")


def main() -> None:
    spark = get_spark("local-standalone")
    src = sys.argv[1] if len(sys.argv) > 1 else FIXTURE

    # register + query, like ctx.register_table("demo", ...) + SELECT
    read_delta(spark, src).createOrReplaceTempView("demo_src")
    spark.sql("SELECT * FROM demo_src ORDER BY first_name").show()

    # the reference's broken INSERT, working: copy the fixture to a
    # writable table and commit through SQL
    demo = tempfile.mkdtemp(prefix="bds-demo-") + "/people"
    write_delta(read_delta(spark, src), demo, mode="overwrite",
                partition_by=["country"])
    sql(spark, f"CREATE EXTERNAL TABLE demo STORED AS DELTA LOCATION '{demo}'")
    sql(spark, "INSERT INTO demo VALUES ('Paddy', 'Murphy', 'Ireland', 'Europe')")
    sql(spark, "SELECT * FROM demo ORDER BY first_name").show()
    print("time travel v0:", read_delta(spark, demo, version=0).count(), "rows")
    spark.stop()


if __name__ == "__main__":
    main()
