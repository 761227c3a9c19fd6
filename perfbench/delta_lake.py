"""``delta_lake`` workload: SQL analytics over Delta tables next to a
stream of small commits into another Delta table, from one client.

Read side. A TPC-H-shaped star schema is stored as Delta tables and
registered with ``CREATE EXTERNAL TABLE ... STORED AS DELTA``. Its
``lineitem`` is clustered on ``l_shipdate`` and built from a bulk commit,
appends, deletion-vector (DV) deletes, a checkpoint and a purge of the
DVs, so every read replays a log tail after a checkpoint and the
``VERSION AS OF`` read applies DVs. The ops are TPC-H Q1/Q3/Q5/Q18
templates with seeded parameters through ``session.sql``, a selective
ship-date range read through ``read_delta(where=...)`` that data
skipping can prune, and the ``VERSION AS OF`` read.

Write side. One table of fixed starting size takes small appends
(``INSERT INTO`` through the SQL router, which appends with
``write_delta``), keyed MERGE upserts whose keys favour recent rows,
copy-on-write and DV deletes and a small-file OPTIMIZE. Every commit is
followed by a read of the latest snapshot. The traced
run also drains the new commits through the ``delta_stream`` source.
Warm-up runs each write against a scratch copy of the table instead.

Every read is checked against DuckDB over a mirror of the same data; the
mirror applies every write op and is compared after each commit.
"""

from __future__ import annotations

import datetime as dt
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow as pa

import gen
from harness import Op, Workload, plan_and_run, same_rows
from spans import span

N_ORDERS = 4_000
INGEST_BASE_ROWS = 16_000
APPEND_ROWS = 500
MERGE_ROWS = 300
# The ingest table's base goes in as this many commits of one file each,
# so that the timed block's third commit, the copy-on-write DELETE, is
# version 10, where the shipped delta.checkpointInterval of 10 writes a
# checkpoint inline (and again in every second block).
INGEST_BASE_COMMITS = 8
# Mean distance, in ids, of a MERGE key from the newest live row.
MERGE_KEY_AGE = 500
# OPTIMIZE compacts files below this size: appends and small rewrites,
# not the base table's 2,000-row files.
SMALL_FILE_BYTES = 16 * 1024
# Scratch tables for warm-up start from the base rows with ids >= this.
SCRATCH_FROM = 11_000
# The write ops of a block, in order; each is followed by a read of the
# latest snapshot. The DV delete hits only rows of the block's append,
# which sit in small files that the OPTIMIZE right after it rewrites, so
# every block starts from a table without deletion vectors: only the one
# fresh read between the two applies them, and DV'd reads (about 1 s
# each) do not pile up from block to block.
WRITES = ("append", "merge", "delete_cow", "delete_dv", "optimize")
# How lineitem is built, one commit per step, with a checkpoint written
# at version LINEITEM_CHECKPOINT: a bulk commit of the oldest ship dates,
# an append of the latest ones, deletion-vector (DV) deletes in that
# slice, and a REORG PURGE that rewrites the DV'd slice file. The latest
# version thus reads without DVs; VERSION AS OF reads ASOF_VERSION, the
# last version with them, so DV application is timed on that op (and on
# the ingest table) without swamping the cost of every other read.
LINEITEM_PLAN = ("append", "append", "dv", "dv", "purge")
LINEITEM_CHECKPOINT = 2
ASOF_VERSION = 3
LINEITEM_DV_DELETES = (
    "l_quantity >= 45",
    "l_linenumber >= 5 AND l_suppkey <= 15",
)
STAR = ("region", "nation", "customer", "supplier", "orders")
LI_COLS = (
    "l_key, l_orderkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
    "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
)


def _dir_bytes(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(d, f)
            out[fp] = os.path.getsize(fp)
    return out


def _date(day: int) -> str:
    return (gen.EPOCH + dt.timedelta(days=int(day))).isoformat()


# Read templates. ``{li}`` stands for the lineitem relation: the Delta
# view (or its VERSION AS OF form) for Spark, a version-pinned subquery of
# the mirror for DuckDB.
def q1(p):
    return f"""
    SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
           sum(l_extendedprice) AS sum_base_price,
           sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
           sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
           avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc,
           count(*) AS count_order
    FROM {{li}} WHERE l_shipdate <= DATE '{p["d"]}'
    GROUP BY l_returnflag, l_linestatus"""


def q3(p):
    return f"""
    SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, {{li}}
    WHERE c_mktsegment = '{p["seg"]}' AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey AND o_orderdate < DATE '{p["d"]}'
      AND l_shipdate > DATE '{p["d"]}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10"""


def q5(p):
    return f"""
    SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
    FROM customer, orders, {{li}}, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = '{p["region"]}'
      AND o_orderdate >= DATE '{p["y"]}-01-01' AND o_orderdate < DATE '{p["y"] + 1}-01-01'
    GROUP BY n_name"""


def q18(p):
    return f"""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum(l_quantity) AS total_qty
    FROM customer, orders, {{li}}
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM {{li}} GROUP BY l_orderkey HAVING sum(l_quantity) > {p["qty"]})
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice"""


def asof(p):
    return f"""
    SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS rev
    FROM {{li}} WHERE l_shipdate >= DATE '{p["d"]}'
    GROUP BY l_returnflag"""


RANGE_AGG = (
    "count(*) AS n, sum(l_quantity) AS qty, sum(l_extendedprice) AS rev"
)


class DeltaLake(Workload):
    """Builds the tables for one seed and hands out blocks of ops."""

    # ------------------------------------------------------------ build
    def build(self, root: str) -> None:
        """Generate the inputs, then build the star tables, lineitem and
        the ingest table concurrently (they are independent), each with
        its DuckDB mirror, and register them as Delta views."""
        from ballista_delta_spark import session
        from ballista_delta_spark.sources.delta_stream import register_delta_stream_source

        self.rng = np.random.default_rng(self.seed)
        self.tables = os.path.join(root, "tables")
        self.duck = duckdb.connect()
        gen_dir = os.path.join(root, "gen")
        paths = {
            name: gen.write(gen_dir, name, t)
            for name, t in gen.tpch(self.rng, N_ORDERS).items()
        }
        base = self.base = gen.ingest_rows(self.rng, 0, INGEST_BASE_ROWS, 0)
        self.root = root
        self.scratch = 0
        with ThreadPoolExecutor(len(STAR) + 2) as pool:
            jobs = [
                pool.submit(self._build_star, name, paths[name], self.duck.cursor())
                for name in STAR
            ] + [
                pool.submit(self._build_lineitem, paths["lineitem"], self.duck.cursor()),
                pool.submit(self._build_ingest, base, self.duck.cursor()),
            ]
            for job in jobs:
                job.result()
            jobs = [
                pool.submit(
                    session.sql, self.spark,
                    f"CREATE EXTERNAL TABLE {name} STORED AS DELTA LOCATION '{self._path(name)}'",
                )
                for name in STAR + ("lineitem", "ingest")
            ]
        for job in jobs:
            job.result()
        register_delta_stream_source(self.spark)
        self.rows = {
            name: self.duck.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
            for name in STAR
        }
        self.rows["lineitem"] = self._li_rows(None)
        self.ing_path = self._path("ingest")
        self.next_id = INGEST_BASE_ROWS
        self.tag = 0
        self.stream_ckpt = os.path.join(root, "stream-ckpt")
        self.stream_version = self._ingest_version()
        self.user_bytes = 0
        self.oracle_cache: dict[str, list[tuple]] = {}

    def _build_star(self, name: str, src: str, cur) -> None:
        from ballista_delta_spark.sources.delta import write_delta

        write_delta(self.spark.read.parquet(src), self._path(name))
        cur.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{src}')")

    def _build_lineitem(self, src: str, cur) -> None:
        """A bulk commit of the oldest 90% of ship dates clustered into 8
        files, then ``LINEITEM_PLAN``. The mirror records for each row the
        version that added it and the version that deleted it."""
        from ballista_delta_spark.sources.delta import (
            create_checkpoint, reorg_purge, write_delta,
        )
        from ballista_delta_spark.sources.delta_dml import delete_delta

        li = self.spark.read.parquet(src)
        days = cur.execute(
            f"SELECT quantile_disc(epoch(l_shipdate) // 86400, [0.9]) "
            f"FROM read_parquet('{src}')"
        ).fetchone()[0]
        cuts = [int(d) for d in days]
        self.ship_days = (cuts[0] - 2000, cuts[-1])
        cur.execute(
            f"CREATE TABLE li_all AS SELECT *, CAST(NULL AS INTEGER) AS added_v, "
            f"CAST(NULL AS INTEGER) AS deleted_v FROM read_parquet('{src}')"
        )
        li_path = self._path("lineitem")
        bounds = [None] + cuts + [None]
        slices = iter([(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)])
        dv_preds = iter(LINEITEM_DV_DELETES)
        for version, step in enumerate(LINEITEM_PLAN):
            if step == "append":
                lo, hi = next(slices)
                cond = " AND ".join(
                    c for c in (
                        f"l_shipdate >= DATE '{_date(lo)}'" if lo is not None else "",
                        f"l_shipdate < DATE '{_date(hi)}'" if hi is not None else "",
                    ) if c
                )
                part = li.filter(cond)
                part = part.repartitionByRange(8, "l_shipdate") if version == 0 else part.coalesce(1)
                write_delta(part.sortWithinPartitions("l_shipdate"), li_path)
                cur.execute(f"UPDATE li_all SET added_v = {version} WHERE {cond}")
            elif step == "dv":
                # Only the appended slices take DVs, so the purge leaves
                # the clustered bulk files alone.
                pred = f"{next(dv_preds)} AND l_shipdate >= DATE '{_date(cuts[0])}'"
                delete_delta(self.spark, li_path, pred, mode="dv")
                # Rows of slices not appended yet cannot be deleted.
                cur.execute(
                    f"UPDATE li_all SET deleted_v = {version} "
                    f"WHERE deleted_v IS NULL AND added_v IS NOT NULL AND ({pred})"
                )
            else:
                reorg_purge(self.spark, li_path)
            if version == LINEITEM_CHECKPOINT:
                create_checkpoint(li_path)
        if cur.execute("SELECT count(*) FROM li_all WHERE added_v IS NULL").fetchone()[0]:
            raise RuntimeError("lineitem slices do not cover every generated row")

    def _build_ingest(self, base: pa.Table, cur) -> None:
        from ballista_delta_spark.sources.delta import write_delta

        step = base.num_rows // INGEST_BASE_COMMITS
        for lo in range(0, base.num_rows, step):
            write_delta(self.spark.createDataFrame(base.slice(lo, step)).coalesce(1), self._path("ingest"))
        cur.register("ingest_base", base)
        cur.execute("CREATE TABLE ingest AS SELECT * FROM ingest_base")
        cur.unregister("ingest_base")

    def _path(self, name: str) -> str:
        return os.path.join(self.tables, name)

    def _li_sql(self, version: int | None) -> str:
        if version is None:
            return f"(SELECT {LI_COLS} FROM li_all WHERE deleted_v IS NULL)"
        return (
            f"(SELECT {LI_COLS} FROM li_all WHERE added_v <= {version} "
            f"AND (deleted_v IS NULL OR deleted_v > {version}))"
        )

    def _li_rows(self, version: int | None) -> int:
        return self.duck.execute(f"SELECT count(*) FROM {self._li_sql(version)}").fetchone()[0]

    def _ingest_version(self) -> int:
        log = os.path.join(self.ing_path, "_delta_log")
        return max(int(f[:20]) for f in os.listdir(log) if f.endswith(".json") and f[:20].isdigit())

    # -------------------------------------------------------------- ops
    def next_block(self) -> list[Op]:
        """One block: each read template once, with seeded parameters,
        interleaved with the write mix (an append, a MERGE, two deletes
        and an OPTIMIZE, each followed by a fresh read). The order is
        fixed, so every block leaves the ingest table in the same shape
        (DVs present or not) whatever the seed."""
        ops: list[Op] = []
        for i, read in enumerate(self._reads()):
            ops.append(read)
            if i < len(WRITES):
                ops.append(self._write_op(WRITES[i]))
                ops.append(self._fresh_read_op())
        return ops

    def warm_block(self) -> list[Op]:
        """Warm-up ops, independent of each other so that warm-up can run
        them concurrently: every read template and every write op against
        its own scratch copy of the ingest table, so the real table is
        first written in the timed loop."""
        return self._reads() + [self._scratch_op(kind) for kind in WRITES]

    def _scratch_op(self, kind: str) -> Op:
        from ballista_delta_spark import session
        from ballista_delta_spark.sources.delta import write_delta

        self.scratch += 1
        path = os.path.join(self.root, f"scratch{self.scratch}")
        view = f"ingest_scratch{self.scratch}"
        steps = [self._write_op(kind, path, view), self._fresh_read_op(path)]

        def run():
            # The newest rows of the base, enough for the ops' key ranges.
            write_delta(self.spark.createDataFrame(self.base.slice(SCRATCH_FROM)), path)
            session.sql(self.spark, f"CREATE EXTERNAL TABLE {view} STORED AS DELTA LOCATION '{path}'")
            for step in steps:
                step.fn()

        return Op(f"warm_{kind}", run)

    def _reads(self) -> list[Op]:
        rng = self.rng
        years = int(rng.integers(1993, 1998))
        return [
            self._sql_op("q1", q1({"d": _date(gen.ORDER_DAY0 + gen.ORDER_DAYS - int(rng.integers(60, 121)))}),
                         ("lineitem",)),
            self._sql_op("q3", q3({"seg": str(rng.choice(gen.SEGMENTS)),
                                   "d": f"1995-03-{int(rng.integers(1, 32)):02d}"}),
                         ("lineitem", "orders", "customer")),
            self._sql_op("q5", q5({"region": str(rng.choice(gen.REGIONS)), "y": years}),
                         ("lineitem", "orders", "customer", "supplier", "nation", "region")),
            self._sql_op("q18", q18({"qty": int(rng.integers(240, 271))}),
                         ("lineitem", "lineitem", "orders", "customer")),
            self._range_op(),
            self._asof_op(),
        ]

    # ----- read side
    def _oracle(self, duck_sql: str) -> list[tuple]:
        hit = self.oracle_cache.get(duck_sql)
        if hit is None:
            from harness import rows_of

            hit = rows_of(self.duck.sql(duck_sql).arrow())
            self.oracle_cache[duck_sql] = hit
        return hit

    def _run_sql(self, text: str):
        from ballista_delta_spark import session

        return plan_and_run(session.sql(self.spark, text), self.tracer)

    def _sql_op(self, kind: str, template: str, tables: tuple[str, ...]) -> Op:
        from harness import rows_of

        spark_sql = template.replace("{li}", "lineitem")
        duck_sql = template.replace("{li}", self._li_sql(None))

        def check(out):
            same_rows(rows_of(out), self._oracle(duck_sql))

        return Op(kind, lambda: self._run_sql(spark_sql),
                  rows=sum(self.rows[t] for t in tables), check=check)

    def _range_op(self) -> Op:
        from ballista_delta_spark.sources.delta import read_delta
        from harness import rows_of
        from pyspark.sql import functions as F

        lo = int(self.rng.integers(*self.ship_days))
        # String literals: the data-skipping parser judges them against the
        # files' min/max stats; it does not judge DATE '...' literals.
        pred = f"l_shipdate >= '{_date(lo)}' AND l_shipdate < '{_date(lo + 30)}'"
        path = self._path("lineitem")
        duck_sql = f"SELECT l_linestatus, {RANGE_AGG} FROM {self._li_sql(None)} WHERE {pred} GROUP BY 1"

        def run():
            df = read_delta(self.spark, path, where=pred).groupBy("l_linestatus").agg(
                *[F.expr(e) for e in RANGE_AGG.split(", ")]
            )
            return plan_and_run(df, self.tracer)

        def check(out):
            same_rows(rows_of(out), self._oracle(duck_sql))

        return Op("range", run, rows=self.rows["lineitem"], check=check)

    def _asof_op(self) -> Op:
        from harness import rows_of

        version = ASOF_VERSION
        template = asof({"d": _date(int(self.rng.integers(*self.ship_days)))})
        spark_sql = template.replace("{li}", f"lineitem VERSION AS OF {version}")
        duck_sql = template.replace("{li}", self._li_sql(version))

        def check(out):
            same_rows(rows_of(out), self._oracle(duck_sql))

        return Op("asof", lambda: self._run_sql(spark_sql),
                  rows=self._li_rows(version), check=check)

    # ----- write side
    def _live_ids(self) -> np.ndarray:
        return self.duck.execute("SELECT id FROM ingest ORDER BY id").fetchnumpy()["id"]

    def _write_op(self, kind: str, path: str | None = None, view: str = "ingest") -> Op:
        """A write to the ingest table, mirrored and checked, or, given
        ``path``, the same write to a scratch table, unchecked."""
        from ballista_delta_spark import session
        from ballista_delta_spark.sources.delta import optimize
        from ballista_delta_spark.sources.delta_dml import delete_delta, merge_delta

        spark, duck = self.spark, self.duck
        real = path is None
        path = path or self.ing_path
        op = Op(kind, lambda: None)
        if kind == "append":
            # INSERT INTO through the SQL router, which appends with
            # write_delta.
            self.tag += 1
            rows = gen.ingest_rows(self.rng, self.next_id, APPEND_ROWS, self.tag)
            self.append_lo = self.next_id
            self.next_id += APPEND_ROWS
            op.rows = rows.num_rows
            src = f"ingest_src_{self.tag}"

            def insert():
                spark.createDataFrame(rows).createOrReplaceTempView(src)
                session.sql(spark, f"INSERT INTO {view} SELECT * FROM {src}")
                spark.catalog.dropTempView(src)

            op.fn = insert

            def mirror():
                duck.register("src", rows)
                duck.execute("INSERT INTO ingest SELECT * FROM src")
                duck.unregister("src")
                self.user_bytes += rows.nbytes
        elif kind == "merge":
            self.tag += 1
            # Keys favour recent rows: offsets from the newest live id are
            # exponential, so most of the rewritten files are recent ones.
            live = self._live_ids()
            back = np.minimum(
                self.rng.exponential(MERGE_KEY_AGE, MERGE_ROWS * 4).astype(np.int64), len(live) - 1
            )
            # Distinct keys in the order drawn, so the cut keeps a sample
            # of every age rather than the oldest ids.
            uniq, first = np.unique(live[len(live) - 1 - back], return_index=True)
            keys = uniq[np.argsort(first)][: MERGE_ROWS * 4 // 5]
            n_new = MERGE_ROWS - len(keys)
            rows = gen.ingest_rows(self.rng, 0, MERGE_ROWS, self.tag)
            ids = np.concatenate([keys, np.arange(self.next_id, self.next_id + n_new)])
            self.next_id += n_new
            rows = rows.set_column(0, "id", pa.array(ids))
            rows = rows.set_column(1, "grp", pa.array((ids % 97).astype("int32")))
            op.rows = rows.num_rows
            op.fn = lambda: merge_delta(
                spark, path, spark.createDataFrame(rows), on="t.id = s.id",
                matched_update={"qty": "s.qty", "price": "s.price", "tag": "s.tag"},
                not_matched_insert=True,
            )

            def mirror():
                duck.register("src", rows)
                duck.execute("DELETE FROM ingest WHERE id IN (SELECT id FROM src)")
                duck.execute("INSERT INTO ingest SELECT * FROM src")
                duck.unregister("src")
                self.user_bytes += rows.nbytes
        elif kind in ("delete_cow", "delete_dv"):
            if kind == "delete_cow":
                lo = self.next_id - int(self.rng.integers(2_000, 12_000))
                cond = f"id >= {lo} AND id < {lo + 150}"
            else:
                # Rows of this block's append; a scratch table has no
                # append, so there the newest base rows.
                lo = self.append_lo if real else INGEST_BASE_ROWS - APPEND_ROWS
                cond = (
                    f"grp % 10 = {int(self.rng.integers(0, 10))} "
                    f"AND id >= {lo} AND id < {lo + APPEND_ROWS}"
                )
            mode = "cow" if kind == "delete_cow" else "dv"
            op.fn = lambda: delete_delta(spark, path, cond, mode=mode)

            def mirror():
                op.rows = duck.execute(f"SELECT count(*) FROM ingest WHERE {cond}").fetchone()[0]
                duck.execute(f"DELETE FROM ingest WHERE {cond}")
        else:  # optimize: compact the small-file backlog only
            op.rows = 0
            op.fn = lambda: optimize(spark, path, only_files_below=SMALL_FILE_BYTES)

            def mirror():
                pass

        def check(out):
            mirror()

        if real:
            op.check = check
        return op

    def _fresh_read_op(self, path: str | None = None) -> Op:
        from ballista_delta_spark.sources.delta import read_delta
        from pyspark.sql import functions as F

        spark = self.spark
        real = path is None
        path = path or self.ing_path

        def run():
            return read_delta(spark, path).agg(
                F.count("*").alias("n"), F.sum("id").alias("ids"),
                F.sum("qty").alias("qty"), F.sum("price").alias("price"),
            ).collect()[0]

        op = Op("fresh_read", run)

        def check(out):
            want = self.duck.execute(
                "SELECT count(*), sum(id)::BIGINT, sum(qty)::BIGINT, sum(price) FROM ingest"
            ).fetchone()
            op.rows = want[0]
            same_rows([tuple(out)], [want], ordered=True)

        if real:
            op.check = check
        return op

    def traced_ops(self) -> list[Op]:
        """Ops that only the traced run makes, after the timed loop: one
        AvailableNow drain of the timed loop's commits through the
        delta_stream source. It costs a run 5-8 s, more than the time
        budget of an untraced run leaves."""
        return [self._drain_op()]

    def _drain_op(self) -> Op:
        """Drain the commits since the build through the delta_stream
        source with an AvailableNow trigger; the stream's own progress
        reports give the rows and micro-batches."""
        spark = self.spark

        def run():
            if self.tracer is not None:
                self.tracer.count("delta_stream.drains")
            with span(self.tracer, "delta_stream.drain"):
                q = (
                    spark.readStream.format("delta_stream").option("path", self.ing_path)
                    .option("ignoreChanges", "true")
                    .option("startingVersion", str(self.stream_version + 1)).load()
                    .writeStream.format("noop").option("checkpointLocation", self.stream_ckpt)
                    .trigger(availableNow=True).start()
                )
                q.awaitTermination()
                return q.recentProgress

        op = Op("drain", run)

        def check(progress):
            end = self._ingest_version()
            want = self._appended_rows(self.stream_version + 1, end)
            got = sum(p["numInputRows"] for p in progress)
            if got != want:
                raise AssertionError(f"stream drained {got} rows, log added {want}")
            op.rows = got
            self.stream_version = end
            if self.tracer is not None:
                self.tracer.counts["delta_stream.batches"] = (
                    self.tracer.counts.get("delta_stream.batches", 0) + len(progress)
                )

        op.check = check
        return op

    def _appended_rows(self, first: int, last: int) -> int:
        """Rows of the data-changing adds in commits ``first..last``, less
        the rows their deletion vectors hide: what an ignoreChanges stream
        emits for that range."""
        import json

        n = 0
        log = os.path.join(self.ing_path, "_delta_log")
        for v in range(first, last + 1):
            with open(os.path.join(log, f"{v:020d}.json")) as fh:
                for line in fh:
                    add = json.loads(line).get("add")
                    if add and add.get("dataChange", True):
                        n += json.loads(add["stats"])["numRecords"]
                        n -= (add.get("deletionVector") or {}).get("cardinality", 0)
        return n

    # ------------------------------------------------------- figures
    def start_timing(self) -> None:
        self.files_before = _dir_bytes(self.ing_path)
        self.version_before = self._ingest_version()
        self.user_bytes = 0

    def end_to_end(self, samples) -> dict[str, float]:
        """Write-path figures over the timed loop, seen from the client."""
        from harness import kind_p50

        after = _dir_bytes(self.ing_path)
        written = sum(size for p, size in after.items() if self.files_before.get(p) != size)
        live = self.duck.execute("SELECT * FROM ingest").arrow().nbytes
        return {
            "append_p50_ms": kind_p50(samples, "append"),
            "merge_p50_ms": kind_p50(samples, "merge"),
            "delete_p50_ms": kind_p50(samples, "delete_cow", "delete_dv"),
            "fresh_read_p50_ms": kind_p50(samples, "fresh_read"),
            "bytes_written_per_user_byte": written / max(self.user_bytes, 1),
            "bytes_stored_per_live_byte": sum(after.values()) / max(live, 1),
        }

    def layer_metrics(self) -> dict[str, float]:
        """Write amplification of the ingest table's commits during the
        timed loop, from the log and the MERGE commits' operationMetrics."""
        import json

        from ballista_delta_spark.sources.delta import DeltaTable

        first = self.version_before
        log = os.path.join(self.ing_path, "_delta_log")
        last = self._ingest_version()
        adds_per_commit, merge_files, merge_written, merge_changed = [], 0, 0, 0
        history = {h["version"]: h for h in DeltaTable(self.ing_path).history()}
        for v in range(first + 1, last + 1):
            with open(os.path.join(log, f"{v:020d}.json")) as fh:
                adds = [a["add"] for a in map(json.loads, fh) if "add" in a]
            adds_per_commit.append(len(adds))
            h = history.get(v, {})
            if h.get("operation") == "MERGE":
                m = {k: int(x) for k, x in (h.get("operationMetrics") or {}).items()}
                merge_files += m.get("numRemovedFiles", 0)
                merge_written += sum(json.loads(a["stats"])["numRecords"] for a in adds)
                merge_changed += (
                    m.get("numTargetRowsUpdated", 0) + m.get("numTargetRowsDeleted", 0)
                    + m.get("numTargetRowsInserted", 0)
                )
        n_merges = sum(1 for v in range(first + 1, last + 1)
                       if history.get(v, {}).get("operation") == "MERGE")
        return {
            "delta.files_written_per_commit": (
                sum(adds_per_commit) / len(adds_per_commit) if adds_per_commit else 0.0
            ),
            "delta_dml.files_rewritten_per_merge": merge_files / n_merges if n_merges else 0.0,
            "delta_dml.rows_rewritten_per_row_changed": (
                merge_written / merge_changed if merge_changed else 0.0
            ),
        }
