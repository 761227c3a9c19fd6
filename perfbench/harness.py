"""Shared pieces of the benchmark: the Spark session, the host-load probe,
the closed-loop op runner, latency statistics, memory and result checks."""

from __future__ import annotations

import math
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable


def process_start_time() -> float:
    """Wall-clock time at which this process was started (from /proc), so
    ``setup_s`` includes interpreter start-up and imports."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def start_spark(work_dir: str):
    """The engine's own tuned session, sized to this host: one executor
    thread per core, and a driver heap that fits a small box (the shipped
    default heap is larger than the RAM of many hosts)."""
    from ballista_delta_spark import session

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = session.get_spark(
        "perfbench",
        cpus=os.cpu_count() or 4,
        conf={
            "spark.driver.memory": "2g",
            # The heap is committed and touched at start, so peak_rss_mb
            # does not move with the collector's choice of heap size.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
            ),
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def plan_and_run(df, tracer=None):
    """Plan ``df`` completely (analysis, optimization, physical planning),
    then execute it and pull the result to the client as Arrow."""
    from spans import span

    with span(tracer, "catalyst.plan"):
        df._jdf.queryExecution().executedPlan()
    with span(tracer, "spark.exec"):
        return df.toArrow()


# The host probe's own Spark SQL settings, so that no setting of the
# engine's session can change the probe's plan.
PROBE_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.codegen.wholeStage": "true",
}
# Rows of the probe run after every timed op, and its time in ms on a
# quiet 4-core host. Op timings are reported as if the host ran the probe
# in REF_PROBE_MS: on a shared host the same work runs up to twice as
# slowly for minutes at a time, and the probe, run on every core like the
# ops, slows with it.
PROBE_ROWS = 3_000_000
REF_PROBE_MS = 20.0


class HostProbe:
    """A fixed hash aggregate over ``rows`` generated ids, one task per
    core, in its own session with ``PROBE_CONF``. It reads no table and
    calls no engine code, so only the host's speed moves its time."""

    def __init__(self, spark, rows: int) -> None:
        from pyspark.sql import functions as F

        session = spark.newSession()
        for k, v in PROBE_CONF.items():
            session.conf.set(k, v)
        self.df = session.range(0, rows, 1, os.cpu_count() or 4).select(
            F.xxhash64("id").alias("h")
        ).agg(F.expr("bit_xor(h)"))

    def __call__(self) -> float:
        t0 = time.perf_counter()
        self.df.collect()
        return (time.perf_counter() - t0) * 1000.0


def calibrate(probe: HostProbe) -> float:
    """Host-load diagnostic: one warm-up run of ``probe`` and the median of
    three, in ms."""
    probe()
    return statistics.median(probe() for _ in range(3))


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of this Python driver plus the JVM."""
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile that still has at least
    ten samples above it. With ten or fewer samples no percentile has, and
    the maximum is reported instead: the slowest op template of the block,
    which is steadier than the fastest one."""
    xs = sorted(samples)
    n = len(xs)
    idx = n - 11 if n > 10 else n - 1
    return 100.0 * (idx + 1) / n, xs[idx]


@dataclass
class Op:
    """One client request: ``fn`` does the work and returns its output;
    ``check`` (run outside the timed region) raises on a wrong output."""

    kind: str
    fn: Callable[[], Any]
    rows: int = 0
    check: Callable[[Any], None] | None = None


@dataclass
class Sample:
    kind: str
    ms: float
    rows: int
    ok: bool
    # Time of the host probe right after the op (median of three runs).
    host_ms: float = 0.0


class Workload:
    """What ``run.py`` asks of a workload. ``build`` makes the inputs;
    ``next_block`` and ``warm_block`` hand out ops. The other hooks are
    for workloads with write-path figures and default to none."""

    # Wall time of one timed block on a quiet 4-core host, to a round
    # figure (6-9 s): ``--seconds`` buys ``seconds // BLOCK_SECONDS``
    # whole blocks (at least one), a fixed amount of work, so the measured
    # mix and the tables' log state do not depend on how fast the ops run.
    BLOCK_SECONDS = 8.0

    def __init__(self, spark, seed: int, tracer=None) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = tracer

    def start_timing(self) -> None:
        pass

    def traced_ops(self) -> list[Op]:
        return []

    def end_to_end(self, samples) -> dict[str, float]:
        return {}

    def layer_metrics(self) -> dict[str, float]:
        return {}


@dataclass
class Loop:
    """Closed loop, one client: each op is sent when the previous one has
    returned. Work comes in blocks in which every op template appears in a
    fixed proportion, and only whole blocks are measured, so the mix of a
    run does not depend on where the clock stops."""

    next_block: Callable[[], list[Op]]
    warm_block: Callable[[], list[Op]]
    tracer: Any = None
    samples: list[Sample] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    probe: Callable[[], float] | None = None

    def run_block(self, ops: list[Op] | None = None) -> None:
        """Run one block (or ``ops``), recording every op's latency and
        outcome, and the host probe's time after each op."""
        for op in self.next_block() if ops is None else ops:
            if self.tracer is not None:
                self.tracer.begin_op(op.kind)
            t0 = time.perf_counter()
            try:
                out, exc = op.fn(), None
            except Exception as e:  # a failed op is counted, not fatal
                out, exc = None, e
            ms = (time.perf_counter() - t0) * 1000.0
            if self.tracer is not None:
                self.tracer.end_op()
            ok = self._check(op, out, exc)
            # One probe run varies by a third from the next; three per op
            # steady the run's median.
            host_ms = statistics.median(self.probe() for _ in range(3)) if self.probe else 0.0
            self.samples.append(Sample(op.kind, ms, op.rows, ok, host_ms))

    def _check(self, op: Op, out, exc: Exception | None) -> bool:
        if exc is None and op.check is not None:
            try:
                op.check(out)
            except Exception as e:
                exc = e
        if exc is not None:
            self.errors.append(f"{op.kind}: {type(exc).__name__}: {exc}")
        return exc is None

    def warm_up(self) -> None:
        """Run one unrecorded warm-up block. Its ops are independent of
        each other and run concurrently, which compiles their code paths
        faster than one at a time. It is one block, always the same, so
        that every run measures from the same point: the timed ops see the
        same JIT and codegen-cache state. A second block cost a run about
        5 s on a 4-core host and did not make runs steadier. Outputs are
        checked as in the timed loop."""
        ops = self.warm_block()
        with ThreadPoolExecutor(len(ops)) as pool:
            futures = [pool.submit(op.fn) for op in ops]
        for op, fut in zip(ops, futures):
            exc = fut.exception()
            self._check(op, None if exc else fut.result(), exc)


def summarize(samples: list[Sample]) -> dict[str, float]:
    """Latency and throughput of the timed ops. Throughput is the run's op
    mix over the time it takes at each op kind's median latency: output
    checks between ops do not count, and a burst of host load that slows
    a few ops moves it no more than it moves those medians."""
    good = [s for s in samples if s.ok]
    lat = [s.ms for s in good]
    pct, tail_ms = tail(lat) if lat else (0.0, 0.0)
    by_kind: dict[str, list[float]] = {}
    for s in good:
        by_kind.setdefault(s.kind, []).append(s.ms)
    busy_s = sum(len(v) * statistics.median(v) for v in by_kind.values()) / 1000.0
    return {
        "op_p50_ms": statistics.median(lat) if lat else 0.0,
        "op_tail_ms": tail_ms,
        "op_tail_pct": pct,
        "ops_per_s": len(good) / busy_s,
        "rows_per_s": sum(s.rows for s in good) / busy_s,
        "failed_op_ratio": (len(samples) - len(good)) / max(len(samples), 1),
    }


def kind_p50(samples: list[Sample], *kinds: str) -> float:
    lat = [s.ms for s in samples if s.ok and s.kind in kinds]
    return statistics.median(lat) if lat else 0.0


# ------------------------------------------------------------- checking
def _norm(v):
    if isinstance(v, float):
        return round(v, 6) if math.isfinite(v) else str(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "as_py"):
        return _norm(v.as_py())
    return v


def rows_of(table) -> list[tuple]:
    """A pyarrow table (or list of tuples) as a list of normalized tuples
    in column-name order."""
    if hasattr(table, "column_names"):
        cols = sorted(table.column_names)
        data = table.select(cols).to_pylist()
        return [tuple(_norm(r[c]) for c in cols) for r in data]
    return [tuple(_norm(x) for x in r) for r in table]


def close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-4)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got: list[tuple], want: list[tuple], ordered: bool = False) -> None:
    """Raise if two results differ beyond float rounding."""
    if len(got) != len(want):
        raise AssertionError(f"{len(got)} rows, expected {len(want)}")
    if not ordered:
        key = lambda r: tuple((x is None, str(type(x)), x if not isinstance(x, float) else round(x, 3)) for x in r)  # noqa: E731
        got, want = sorted(got, key=key), sorted(want, key=key)
    for g, w in zip(got, want):
        if not close(g, w):
            raise AssertionError(f"row {g} != expected {w}")
