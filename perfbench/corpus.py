"""``corpus_pipeline`` workload: the LLM-data operators of the query
library over a generated corpus read from parquet.

Each op runs one registered query id from ``queries.all_queries()``
(exact dedup, MinHash-LSH near-dup detection, benchmark decontamination,
TF-IDF top terms, IVF nearest-neighbour search, kNN graph) and pulls its
full result to the client. Results are checked against the DuckDB oracle
SQL registered with each id, evaluated once per run over the same files.
Delta does no work here.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

import gen
from harness import Op, Workload, rows_of, same_rows
from spans import span

IDS = (
    "dedup_exact", "dedup_minhash_lsh", "text_decontaminate",
    "text_tfidf_topk", "sim_ivf_topk", "emb_knn_graph",
)
N_DOCS = 5_000
N_VECS = 2_000
INPUT_OF = {
    "dedup_exact": "documents", "dedup_minhash_lsh": "documents",
    "text_decontaminate": "documents", "text_tfidf_topk": "documents",
    "sim_ivf_topk": "embeddings", "emb_knn_graph": "embeddings",
}


class Corpus(Workload):
    """Generates the corpus for one seed and hands out blocks of ops."""

    def build(self, root: str) -> None:
        from ballista_delta_spark.queries import all_queries

        self.rng = np.random.default_rng(self.seed)
        self.dir = os.path.join(root, "corpus")
        tables = gen.corpus(self.rng, N_DOCS, N_VECS)
        for name, table in tables.items():
            gen.write(self.dir, name, table)
        self.rows = {name: t.num_rows for name, t in tables.items()}
        registry = all_queries()
        self.queries = {q: registry[q] for q in IDS}
        self.oracle: dict[str, list[tuple]] = {}
        self.duck = None

    def next_block(self) -> list[Op]:
        """Every id once, in a seeded order."""
        return [self._op(IDS[i]) for i in self.rng.permutation(len(IDS))]

    def warm_block(self) -> list[Op]:
        """The ops run concurrently in warm-up: every id once."""
        return self.next_block()

    def _op(self, qid: str) -> Op:
        fn, _ = self.queries[qid]
        spark, tracer = self.spark, self.tracer

        def run():
            # queries.<id>.plan covers the library's DataFrame construction
            # (which may run eager jobs) and Catalyst; .exec the execution.
            with span(tracer, f"queries.{qid}.plan"):
                df = fn(spark, self.dir)
                with span(tracer, "catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
            with span(tracer, f"queries.{qid}.exec"), span(tracer, "spark.exec"):
                return df.toArrow()

        def check(out):
            same_rows(rows_of(out), self._oracle(qid))

        return Op(qid, run, rows=self.rows[INPUT_OF[qid]], check=check)

    def _oracle(self, qid: str) -> list[tuple]:
        """The registered oracle SQL's result over the same files, computed
        on first use (during warm-up) and kept for the run."""
        if qid not in self.oracle:
            if self.duck is None:
                self.duck = duckdb.connect()
                for name in ("documents", "embeddings"):
                    path = os.path.join(self.dir, f"{name}.parquet")
                    self.duck.execute(
                        f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                    )
            self.oracle[qid] = rows_of(self.duck.sql(self.queries[qid][1]).arrow())
        return self.oracle[qid]
