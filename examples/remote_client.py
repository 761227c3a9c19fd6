"""Remote-cluster client — the PySpark twin of the reference's
client -> external scheduler -> executors triple
(examples/local_read_client.rs:31, custom_scheduler.rs:31-46,
custom_executor.rs).

The reference needs three processes and two custom protobuf codecs to
run a query on a remote cluster: a scheduler binary registering
BallistaDeltaLogical/PhysicalCodec, an executor binary registering the
same pair, and a client that connects with
``SessionContext::remote_with_state("df://localhost:50050", state)``.
All of that machinery exists because Ballista must SHIP serialized
DataFusion plans across processes.

Spark's split is the same three roles — driver (client), cluster
manager (scheduler), executors — but the wiring is CONFIGURATION, not
code: the connection string is ``--master spark://host:7077`` and plan
transport is built into Spark itself, so there is no codec layer to
register (SURVEY.md §3.2; the reference's src/lib.rs codec pair
deliberately dissolves here). Everything else in this repo — the Delta
reader/writer, all 147 registered queries — is already
cluster-transparent: the SAME code runs unmodified on local[*] and on a
real cluster, because it never touches driver-local state in a data
path.

To run against a real standalone cluster (the scheduler+executor
halves, standing in for custom_scheduler.rs / custom_executor.rs):

    $SPARK_HOME/sbin/start-master.sh            # scheduler twin
    $SPARK_HOME/sbin/start-worker.sh spark://$(hostname):7077

then:

    BDS_MASTER=spark://$(hostname):7077 python examples/remote_client.py

Without BDS_MASTER (or when the master is unreachable) the example
falls back to local[*] so it stays runnable in sandboxes with no
cluster — the same guard style as tests/test_s3_minio.py's docker gate.
"""

from __future__ import annotations

import os
import socket
import sys
from urllib.parse import urlparse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXTURE = os.path.join(REPO, "data", "people_countries_delta")


def _reachable(master: str) -> bool:
    """True when the master URL's host:port accepts a TCP connection."""
    u = urlparse(master)
    if u.scheme != "spark" or not u.hostname:
        return False
    try:
        with socket.create_connection((u.hostname, u.port or 7077), 2):
            return True
    except OSError:
        return False


def main() -> None:
    from pyspark.sql import SparkSession

    master = os.environ.get("BDS_MASTER", "")
    if master and _reachable(master):
        print(f"connecting to remote cluster {master}")
    else:
        if master:
            print(f"master {master} unreachable — falling back to local[*]")
        master = "local[*]"

    # The entire "remote" story is this one builder line: the same conf
    # the reference spreads over three binaries and two codecs.
    spark = (
        SparkSession.builder.master(master)
        .appName("bds-remote-client")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        # On a real cluster, ship this repo to the executors so the
        # Python workers can import the package (the analogue of the
        # reference executor registering the Delta codecs):
        #   .config("spark.submit.pyFiles", "ballista_delta_spark.zip")
        .getOrCreate()
    )

    from ballista_delta_spark.sources.delta import read_delta

    # Same flow as local_read_client.rs: open the golden Delta fixture,
    # register, SELECT * — except the scan/commit protocol runs wherever
    # the executors are.
    read_delta(spark, FIXTURE).createOrReplaceTempView("demo")
    spark.sql("SELECT * FROM demo ORDER BY first_name").show()
    print(f"ran on master={spark.conf.get('spark.master')}")
    spark.stop()


if __name__ == "__main__":
    main()
