"""S3/MinIO session — the PySpark twin of reference
examples/s3_standalone.rs:15-47 and s3_read_client.rs: env-credentialed
object store + parquet AND Delta queried over s3://ballista.

Two S3 paths, matching SURVEY §2 S6:

- NATIVE (the path this repo executes): ``register_s3_parquet`` /
  ``register_delta_s3`` use pyarrow's S3 client — real wire protocol
  (ListObjectsV2, ranged GetObject), each file fetched executor-side by
  its task's own client. Works on a pip-installed pyspark (no
  hadoop-aws jars needed).
- s3a:// (real clusters only): needs the hadoop-aws classpath, absent
  from pip pyspark — set fs.s3a.* via spark-defaults/--conf there.
  SURVEY §2.1 S6 documents why this repo refuses rather than stubs it.

Usage (against MinIO or any S3 endpoint):

  AWS_ACCESS_KEY_ID=... AWS_SECRET_ACCESS_KEY=... \
  AWS_ENDPOINT_URL=http://localhost:9000 \
  python examples/s3_standalone.py s3://ballista/sample/

With no arguments it boots an in-process moto S3 server, uploads the
re-created people_countries Delta fixture (data/people_countries_delta),
and runs the golden query — a self-contained demo of the full S3 path.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ballista_delta_spark.session import get_spark
from ballista_delta_spark.sources.registry import (
    register_delta_s3,
    register_s3_parquet,
)

FIXTURE = os.path.join(REPO, "data", "people_countries_delta")


def _demo_endpoint() -> tuple[str, dict[str, str]]:
    """Boot moto + upload the Delta fixture to s3://ballista (the
    reference's bucket, tests/store.rs:23)."""
    from ballista_delta_spark.sources.moto_s3 import (
        s3_client,
        start_moto_s3,
        upload_tree,
    )

    _server, endpoint = start_moto_s3()
    s3 = s3_client(endpoint)
    s3.create_bucket(Bucket="ballista")
    upload_tree(s3, FIXTURE, "ballista", "people_countries")
    return endpoint, {"access_key": "testing", "secret_key": "testing"}


def main() -> None:
    spark = get_spark("s3-standalone")

    if len(sys.argv) > 1:
        endpoint = os.environ.get("AWS_ENDPOINT_URL")
        creds: dict[str, str] = {}  # fall back to AWS_* env (reference behavior)
        url = sys.argv[1]
        register_s3_parquet(spark, "p", url, endpoint=endpoint, **creds)
        spark.sql("SELECT * FROM p LIMIT 20").show()
    else:
        endpoint, creds = _demo_endpoint()
        register_delta_s3(
            spark, "demo", "s3://ballista/people_countries",
            endpoint=endpoint, **creds,
        )
        # the reference's golden query (tests/store.rs:60-69)
        spark.sql(
            "SELECT first_name, last_name, country FROM demo "
            "ORDER BY first_name"
        ).show()
    spark.stop()


if __name__ == "__main__":
    main()
