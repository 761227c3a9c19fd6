"""The benchmark of record for ballista_delta_spark.

    python3 perfbench/run.py --workload delta_lake --seed 1 --seconds 16 --trace 0

Runs one seeded workload as a closed loop with one client on
``local[<cores>]``, checks every output, prints every metric by name with
its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics from
spans recorded around the engine's public functions, and the tracing
overhead. ``--write-manifest`` rewrites ``BENCHMARK.json`` from the
metric table below. Run it from the repository root. See README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PATHS = [os.path.relpath(HERE, ROOT)]
RUN_SECONDS = 16

WORKLOADS = {
    "delta_lake": "Delta SQL reads (TPC-H templates, skipping, time travel over DVs and a "
                  "checkpoint) next to small commits, MERGE, copy-on-write and DV deletes, OPTIMIZE",
    "corpus_pipeline": "LLM-data operators of the query library over a generated parquet corpus; "
                       "Delta does no work",
}
# name -> (unit, better, bound). The bound is the share of the parent's
# median by which the metric may worsen before a change is a regression.
# Timings are scaled by the host probe (harness.REF_PROBE_MS).
# op_tail_ms is printed but has no bound: a run times 32 ops on
# delta_lake and 12 on corpus_pipeline, so the highest percentile with
# ten samples beyond it is the 69th or the 17th, not a tail that a bound
# could guard.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_ms": ("ms", "lower", 0.25),
    "ops_per_s": ("1/s", "higher", 0.25),
    "rows_per_s": ("rows/s", "higher", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
}
QUERY_IDS = (
    "dedup_exact", "dedup_minhash_lsh", "text_decontaminate",
    "text_tfidf_topk", "sim_ivf_topk", "emb_knn_graph",
)
INGEST_METRICS = (
    "append_p50_ms", "merge_p50_ms", "delete_p50_ms", "fresh_read_p50_ms",
    "bytes_written_per_user_byte", "bytes_stored_per_live_byte",
)
PER_LAYER = {
    "session.sql_ms": ("ms", "lower"),
    "session.get_spark_ms": ("ms", "lower"),
    "delta.snapshot_ms": ("ms", "lower"),
    "delta.commits_replayed": ("count", "lower"),
    "delta.read_ms": ("ms", "lower"),
    "delta.skip_files_ms": ("ms", "lower"),
    "delta.files_kept_ratio": ("ratio", "lower"),
    "catalyst.plan_ms": ("ms", "lower"),
    "spark.exec_ms": ("ms", "lower"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "delta.write_ms": ("ms", "lower"),
    "delta.files_written_per_commit": ("count", "lower"),
    "delta.commit_conflicts": ("count", "lower"),
    "delta.checkpoint_ms": ("ms", "lower"),
    "delta.optimize_ms": ("ms", "lower"),
    "delta_dml.merge_ms": ("ms", "lower"),
    "delta_dml.delete_ms": ("ms", "lower"),
    "delta_dml.files_rewritten_per_merge": ("count", "lower"),
    "delta_dml.rows_rewritten_per_row_changed": ("ratio", "lower"),
    "delta.dv_files_ratio": ("ratio", "lower"),
    "dv.read_ms": ("ms", "lower"),
    "dv.write_ms": ("ms", "lower"),
    "delta_stream.drain_ms": ("ms", "lower"),
    "delta_stream.batches": ("count", "lower"),
    # delta_lake's write-path figures, measured end to end by the client:
    # every untraced run prints them; the traced run reports them here.
    **{k: (("ms" if k.endswith("_ms") else "ratio"), "lower") for k in INGEST_METRICS},
    **{f"queries.{q}.{part}_ms": ("ms", "lower") for q in QUERY_IDS for part in ("plan", "exec")},
    "trace.overhead_pct": ("%", "lower"),
}


def manifest() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": k, "why": v} for k, v in WORKLOADS.items()],
        "end_to_end": [
            {"name": k, "unit": u, "better": b, "bound": bound}
            for k, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [{"name": k, "unit": u, "better": b} for k, (u, b) in PER_LAYER.items()],
    }


def _import_engine():
    """Make the engine importable here and in Spark's Python workers, which
    do not inherit this process's sys.path."""
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import ballista_delta_spark.session  # noqa: F401


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="ballista_delta_spark benchmark")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-manifest", action="store_true",
                    help="rewrite BENCHMARK.json from the metric table and exit")
    args = ap.parse_args()
    if args.write_manifest:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            json.dump(manifest(), fh, indent=2)
            fh.write("\n")
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    try:
        _import_engine()
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import harness
    from spans import Tracer

    t_proc = harness.process_start_time()
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()
        tracer.begin_op("setup")
    spark = None
    try:
        spark = harness.start_spark(work)
        if tracer is not None:
            tracer.end_op()
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        phases = {"start": time.time() - t_proc}
        if args.workload == "delta_lake":
            from delta_lake import DeltaLake as Workload
        else:
            from corpus import Corpus as Workload
        wl = Workload(spark, args.seed, tracer)
        t0 = time.perf_counter()
        wl.build(os.path.join(work, "state"))
        phases["build"] = time.perf_counter() - t0
        loop = harness.Loop(wl.next_block, wl.warm_block, tracer)
        if tracer is not None:
            tracer.sc = spark.sparkContext
        t0 = time.perf_counter()
        loop.warm_up()
        phases["warm-up"] = time.perf_counter() - t0
        # Set-up ends here. The 10M-row probe is a diagnostic, run warm
        # right before and after the timed loop so that it shows the host
        # load the loop meets.
        setup_s = time.time() - t_proc
        diagnostic = harness.HostProbe(spark, 10_000_000)
        probe_before = harness.calibrate(diagnostic)
        loop.probe = harness.HostProbe(spark, harness.PROBE_ROWS)
        # Unwarmed, the probe still gets faster through the timed loop.
        for _ in range(10):
            loop.probe()
        wl.start_timing()
        n_blocks = max(1, int(args.seconds // wl.BLOCK_SECONDS))
        t_loop = time.perf_counter()
        for _ in range(n_blocks):
            loop.run_block()
        wall = time.perf_counter() - t_loop
        host_ms = statistics.median(s.host_ms for s in loop.samples)
        scale = harness.REF_PROBE_MS / host_ms
        samples = [dataclasses.replace(s, ms=s.ms * scale) for s in loop.samples]
        if tracer is not None:
            loop.run_block(wl.traced_ops())
        probe_after = harness.calibrate(diagnostic)
        rss = harness.peak_rss_mb(jvm_pid)
        e2e = harness.summarize(samples)
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = rss
        extra = wl.end_to_end(samples)
        print(f"workload = {args.workload}  seed = {args.seed}  cores = {os.cpu_count()}")
        print("setup phases (s): " + "  ".join(f"{k} = {v:.2f}" for k, v in phases.items()))
        print(f"measured blocks = {n_blocks}  "
              f"ops = {len(samples)}  measured_s = {wall:.3f}")
        print(f"host probe (10M-row hash agg, diagnostic only): before = "
              f"{probe_before:.1f} ms  after = {probe_after:.1f} ms")
        print(f"host probe after each op ({harness.PROBE_ROWS // 10**6}M-row hash agg): median = "
              f"{host_ms:.2f} ms; op timings below are scaled by "
              f"{harness.REF_PROBE_MS:g} / {host_ms:.2f} = {scale:.4f}")
        for kind in sorted({s.kind for s in samples}):
            lat = [s.ms for s in samples if s.kind == kind and s.ok]
            if lat:
                print(f"  {kind:<20} p50 = {statistics.median(lat):9.1f} ms  "
                      f"(unscaled {statistics.median(lat) / scale:9.1f} ms)  n = {len(lat)}")
        for err in loop.errors[:20]:
            print(f"FAILED {err}")
        units = {k: v[0] for k, v in END_TO_END.items()}
        units.update(failed_op_ratio="ratio", op_tail_ms="ms", op_tail_pct="%")
        units.update({k: PER_LAYER[k][0] for k in extra})
        for k, v in {**e2e, **extra}.items():
            print(f"{k} = {v:.6g} {units[k]}")
        if tracer is None:
            metrics = {k: {"value": e2e[k], "unit": u} for k, (u, _, _) in END_TO_END.items()}
        else:
            layer = _layer_metrics(tracer, loop.samples)
            layer.update({k: extra.get(k, 0.0) for k in INGEST_METRICS})
            layer.update(wl.layer_metrics())
            layer["delta.commit_conflicts"] = float(
                sum("ConcurrentWriteException" in e for e in loop.errors)
            )
            for k in PER_LAYER:
                if k not in extra:
                    print(f"{k} = {layer[k]:.6g} {PER_LAYER[k][0]}")
            metrics = {k: {"value": layer[k], "unit": u} for k, (u, _) in PER_LAYER.items()}
            tracer.write(os.path.join(work_root, f"spans-{args.workload}.jsonl"))
        failed = sum(1 for s in samples if not s.ok)
        print(json.dumps({
            # Warm-up outputs are checked too; a wrong one fails the run.
            "correct": not loop.errors, "attempted": len(samples), "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _layer_metrics(tracer, samples) -> dict[str, float]:
    per = tracer.self_ms()
    c = tracer.counts

    def ms(name: str) -> float:
        return per.get(name, (0.0, 0))[0]

    def ratio(a: str, b: str) -> float:
        return c.get(a, 0.0) / c[b] if c.get(b) else 0.0

    traced_ops = [k for k in tracer.op_kind.values() if k != "setup"]
    out = {
        "session.sql_ms": ms("session.sql"),
        "session.get_spark_ms": ms("session.get_spark"),
        "delta.snapshot_ms": ms("delta.snapshot"),
        "delta.commits_replayed": ratio("delta.commits_replayed", "delta.snapshots"),
        "delta.read_ms": ms("delta.read"),
        "delta.skip_files_ms": ms("delta.skip_files"),
        "delta.files_kept_ratio": ratio("delta.skip_files_kept", "delta.skip_files_in"),
        "catalyst.plan_ms": ms("catalyst.plan"),
        "spark.exec_ms": ms("spark.exec"),
        "spark.jobs_per_op": c.get("spark.jobs", 0.0) / max(len(traced_ops), 1),
        "spark.tasks_per_op": c.get("spark.tasks", 0.0) / max(len(traced_ops), 1),
        "spark.failed_tasks": c.get("spark.failed_tasks", 0.0),
        "delta.write_ms": ms("delta.write"),
        "delta.checkpoint_ms": ms("delta.checkpoint"),
        "delta.optimize_ms": ms("delta.optimize"),
        "delta_dml.merge_ms": ms("delta_dml.merge"),
        "delta_dml.delete_ms": ms("delta_dml.delete"),
        "delta.dv_files_ratio": ratio("delta.dv_files", "delta.snapshot_files"),
        "dv.read_ms": ms("dv.read"),
        "dv.write_ms": ms("dv.write"),
        "delta_stream.drain_ms": ms("delta_stream.drain"),
        "delta_stream.batches": ratio("delta_stream.batches", "delta_stream.drains"),
        "delta.files_written_per_commit": 0.0,
        "delta_dml.files_rewritten_per_merge": 0.0,
        "delta_dml.rows_rewritten_per_row_changed": 0.0,
    }
    for q in QUERY_IDS:
        out[f"queries.{q}.plan_ms"] = tracer.inclusive_ms(f"queries.{q}.plan")
        out[f"queries.{q}.exec_ms"] = tracer.inclusive_ms(f"queries.{q}.exec")
    op_s = sum(s.ms for s in samples) / 1000.0
    out["trace.overhead_pct"] = 100.0 * tracer.overhead_s / op_s if op_s else 0.0
    return out


if __name__ == "__main__":
    sys.exit(main())
