"""Where each corpus op's time goes: Spark jobs versus the driver alone.

Usage: python tools/corpus_profile.py [--seed N] [--runs 3] [--work DIR]
                                      [query_id ...]

Generates the benchmark's corpus (5,000 documents, 2,000 vectors) for
``--seed`` with ``perfbench/gen.py`` (nothing is downloaded), starts a
session with one executor thread per core, runs every id once to warm
up, then runs each id ``--runs`` times and prints the median of:

- ``build``: the query function building its DataFrame (eager jobs
  included), ``plan``: Catalyst down to the executed plan, ``exec``:
  running it and pulling the result to the client as Arrow;
- ``jobs_ms``: wall time in which at least one of the op's Spark jobs was
  running (from the status store's job submission and completion times),
  ``driver_ms``: the rest of the op's wall time, with no job running;
- ``jobs`` and ``tasks`` launched per op, and ``build_jobs``, the jobs
  launched while the DataFrame was being built.

With no ids, profiles the six ids of the corpus workload.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

CORPUS_IDS = (
    "dedup_exact", "dedup_minhash_lsh", "text_decontaminate",
    "text_tfidf_topk", "sim_ivf_topk", "emb_knn_graph",
)
COLUMNS = (
    "build_ms", "plan_ms", "exec_ms", "jobs_ms", "driver_ms",
    "jobs", "tasks", "build_jobs",
)


def _busy_ms(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi], in ms."""
    busy, end = 0.0, lo
    for s, e in sorted(spans):
        s, e = max(s, end), min(e, hi)
        if e > s:
            busy += e - s
            end = e
    return busy * 1000.0


def profile_op(spark, fn, sf_dir: str, group: str) -> dict:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    sc.setJobGroup(group, group)
    try:
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        df._jdf.queryExecution().executedPlan()
        t2 = time.time()
        df.toArrow()
        t3 = time.time()
    finally:
        sc.setJobGroup("", "")
    spans, tasks = [], 0
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    for j in job_ids:
        jd = store.job(j)
        sub, comp = jd.submissionTime(), jd.completionTime()
        if sub.isDefined():
            end = comp.get().getTime() if comp.isDefined() else t3 * 1000.0
            spans.append((sub.get().getTime() / 1000.0, end / 1000.0))
        tasks += jd.numCompletedTasks()
    jobs_ms = _busy_ms(spans, t0, t3)
    return {
        "build_ms": (t1 - t0) * 1000.0,
        "plan_ms": (t2 - t1) * 1000.0,
        "exec_ms": (t3 - t2) * 1000.0,
        "jobs_ms": jobs_ms,
        "driver_ms": (t3 - t0) * 1000.0 - jobs_ms,
        "jobs": len(job_ids),
        "tasks": tasks,
        "build_jobs": build_jobs,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("ids", nargs="*", default=list(CORPUS_IDS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--work", default=os.path.join(ROOT, ".perfbench_work", "profile"))
    args = ap.parse_args()

    import gen
    import numpy as np

    from ballista_delta_spark.queries import all_queries
    from ballista_delta_spark.session import get_spark

    # Spark's Python workers import the engine too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    corpus = os.path.join(args.work, f"corpus-{args.seed}")
    tables = gen.corpus(np.random.default_rng(args.seed), 5_000, 2_000)
    for name, table in tables.items():
        gen.write(corpus, name, table)

    spark = get_spark(
        "corpus_profile",
        cpus=os.cpu_count() or 4,
        conf={"spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    fns = {q: registry[q][0] for q in args.ids}
    for q, fn in fns.items():  # warm-up
        profile_op(spark, fn, corpus, f"warm-{q}")

    print(f"{'id':<20}" + "".join(f"{c:>12}" for c in COLUMNS))
    for q, fn in fns.items():
        runs = [profile_op(spark, fn, corpus, f"{q}-{i}") for i in range(args.runs)]
        med = {c: statistics.median(r[c] for r in runs) for c in COLUMNS}
        print(f"{q:<20}" + "".join(f"{med[c]:>12.0f}" for c in COLUMNS))
    spark.stop()


if __name__ == "__main__":
    main()
