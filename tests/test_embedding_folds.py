"""Per-vector embedding math is one ``aggregate(zip_with(...))`` fold per
vector; only the pair-loop cosine stays an unrolled 64-term chain.

- Exactness: the norm, centroid-dot, squared-distance and LSH-bucket folds
  are bit-identical to the left-associative chains they replace, on
  adversarial rows (signed zeros, subnormals, magnitudes near 1e308, mixed
  signs; NaN and infinities for the bucket).
- Shape: the plans of ``sim_ivf_topk``, ``emb_knn_graph``,
  ``dedup_embedding_cosine``, ``emb_semdedup`` and ``sim_hard_negatives``
  carry that math as folds, and the pair cosine is the only 64-term chain
  left. The last three return the same bits with every fold spelled as
  the chain it replaced.
"""

from __future__ import annotations

import math
import re
import struct

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ballista_delta_spark.queries import dedup
from ballista_delta_spark.queries import similarity as sim

DIM = 64
INF, NAN = float("inf"), float("nan")


def _rows() -> list[list[float]]:
    import random

    rng = random.Random(7)
    sign = [(-1.0) ** d for d in range(DIM)]
    return [
        [0.0] * DIM,
        [-0.0] * DIM,
        [0.0 if d % 2 else -0.0 for d in range(DIM)],
        [5e-324 * (d + 1) * sign[d] for d in range(DIM)],
        [2.2e-308 * sign[d] for d in range(DIM)],
        [1e308 * sign[d] for d in range(DIM)],
        [1.7e308] * DIM,
        [rng.choice((1e308, -1e308, 1.0, -1e-300, 5e-324, -0.0, 3.5))
         for _ in range(DIM)],
        [rng.gauss(0.0, 1.0) for _ in range(DIM)],
        [rng.gauss(0.0, 1.0) * 10.0 ** rng.randint(-300, 300) for _ in range(DIM)],
    ]


def _cents() -> list[list[float]]:
    rows = _rows()
    sign = [(-1.0) ** d for d in range(DIM)]
    return [
        rows[7],  # +-1e308 terms: an infinite |c|
        rows[8],
        rows[9],
        [(-0.0, 5e-324, 1.0, -2.5)[d % 4] for d in range(DIM)],
        [1e154 * sign[d] for d in range(DIM)],
    ]


def _frame(spark, rows) -> DataFrame:
    return spark.createDataFrame(
        list(enumerate(rows)), "id INT, emb ARRAY<DOUBLE>"
    )


def _bits(v):
    return None if v is None else struct.pack("<d", v)


def _chain(terms) -> str:
    return " + ".join(terms)


def _old_bucket(n_planes: int) -> str:
    terms = []
    for k, row in enumerate(sim._planes(n_planes)):
        dot = _chain(f"emb[{d}] * ({w}.0D)" for d, w in enumerate(row) if w)
        terms.append(
            f"(CASE WHEN ({dot}) > 0D THEN CAST({1 << k} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return "(" + " + ".join(terms) + ")"


def _assert_same_bits(df: DataFrame, pairs: list[tuple[str, str]]) -> None:
    for r in df.orderBy("id").collect():
        for old, new in pairs:
            assert _bits(r[old]) == _bits(r[new]), (r["id"], old, r[old], r[new])


def test_norm_fold_is_bit_identical_to_chain(spark):
    df = _frame(spark, _rows()).select(
        "id",
        F.expr(_chain(f"emb[{d}] * emb[{d}]" for d in range(DIM))).alias("old"),
        F.expr(sim._fold("emb", "emb")).alias("new"),
    )
    assert "aggregate(" in sim._fold("emb", "emb")
    _assert_same_bits(df.select(
        "id", "old", "new",
        F.sqrt("old").alias("old_nrm"), F.sqrt("new").alias("new_nrm"),
    ), [("old", "new"), ("old_nrm", "new_nrm")])


def test_centroid_folds_are_bit_identical_to_chains(spark):
    cents = _cents()
    old_dots, old_sq = [], []
    for i, c in enumerate(cents):
        nrm = math.sqrt(sum((x * x for x in c), 0.0))
        dot = _chain(f"emb[{d}] * {c[d]!r}D" for d in range(DIM))
        old_dots.append(
            F.expr(f"({dot}) / {sim._sql_double(nrm)}").alias(f"old_dot{i}")
        )
        old_sq.append(F.expr(_chain(
            f"(emb[{d}] - {c[d]!r}D) * (emb[{d}] - {c[d]!r}D)"
            for d in range(DIM)
        )).alias(f"old_sq{i}"))
    new_sq = [
        col.alias(f"new_sq{i}") for i, col in enumerate(sim._sqdist_cols(cents))
    ]
    new = sim._with_centroid_dots(_frame(spark, _rows()), cents).select(
        "*", *new_sq
    )
    plan = new._jdf.queryExecution().optimizedPlan().toString()
    assert "aggregate(" in plan and not re.search(r"\[63\]", plan), plan[:2000]
    df = new.select("*", *old_dots, *old_sq)
    _assert_same_bits(df, [
        pair
        for i in range(len(cents))
        for pair in ((f"old_dot{i}", f"__d{i}"), (f"old_sq{i}", f"new_sq{i}"))
    ])


@pytest.mark.parametrize("n_planes", [4, 6, 8])
def test_bucket_fold_matches_chain_on_non_finite_rows(spark, n_planes):
    rows = _rows() + [
        [INF if d == 2 else 1.0 for d in range(DIM)],  # zero weight in plane 0
        [NAN if d == 9 else -1.0 for d in range(DIM)],
        [-INF if d % 5 == 0 else 0.5 for d in range(DIM)],
        [INF if d % 2 else -INF for d in range(DIM)],
        [NAN] * DIM,
    ]
    new = sim.lsh_bucket_expr(n_planes)
    assert "aggregate(" in new and "[63]" not in new
    df = _frame(spark, rows).select(
        "id",
        F.expr(_old_bucket(n_planes)).alias("old"),
        F.expr(new).alias("new"),
    )
    got = [(r["old"], r["new"]) for r in df.orderBy("id").collect()]
    assert all(old == new for old, new in got), got


def _plans_with_checkpoints(spark, df_fn, monkeypatch) -> str:
    """Optimized plan of the frame ``df_fn`` builds, plus the plans of
    the frames it checkpoints on the way (those sit behind a LogicalRDD
    in the final plan)."""
    seen: list[str] = []
    cls = type(spark.range(1))
    orig = cls.localCheckpoint

    def spy(self, *a, **k):
        seen.append(self._jdf.queryExecution().optimizedPlan().toString())
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    df = df_fn()
    seen.append(df._jdf.queryExecution().optimizedPlan().toString())
    return "\n".join(seen)


@pytest.mark.parametrize("qid", ["sim_ivf_topk", "emb_knn_graph"])
def test_only_the_pair_cosine_is_an_unrolled_chain(spark, sf_dir, qid, monkeypatch):
    fn, _ = sim.QUERIES[qid]
    plan = _plans_with_checkpoints(spark, lambda: fn(spark, sf_dir), monkeypatch)
    # norm, centroid dots and bucket planes: folds
    assert "aggregate(zip_with(" in plan, plan[:3000]
    # the only 64-term chain is the pair cosine: emb[63] of each side once
    assert len(re.findall(r"\[63\]", plan)) == 2, plan[:3000]


_QUERIES = {**sim.QUERIES, **dedup.QUERIES}
# Queries whose norm (and, for emb_semdedup, distance) folds sit beside an
# unrolled pair cosine.
_LATE_FOLDS = ["dedup_embedding_cosine", "emb_semdedup", "sim_hard_negatives"]


@pytest.mark.parametrize("qid", _LATE_FOLDS)
def test_late_fold_queries_unroll_only_pair_products(spark, sf_dir, qid, monkeypatch):
    fn, _ = _QUERIES[qid]
    plan = _plans_with_checkpoints(spark, lambda: fn(spark, sf_dir), monkeypatch)
    assert "aggregate(zip_with(" in plan, plan[:3000]
    # Every emb[63] is one side of a pair product (the cosine, which the
    # dedup joins evaluate in both the join condition and the output);
    # no norm or distance chain is left.
    pairs = re.findall(r"(\w+#\d+)\[63\] \* (\w+#\d+)\[63\]", plan)
    assert pairs and all(a != b for a, b in pairs), plan[:3000]
    assert len(re.findall(r"\[63\]", plan)) == 2 * len(pairs), plan[:3000]


def _chain_fold(left: str, right: str, term: str = "x * y") -> str:
    """``sim._fold`` spelled as the left-to-right chain it replaces; an
    ``array(...)`` literal operand contributes its elements."""

    def operand(side: str):
        if side.startswith("array("):
            return side[len("array("):-1].split(", ")
        return [f"{side}[{d}]" for d in range(DIM)]

    xs, ys = operand(left), operand(right)
    return "(" + " + ".join(
        "(" + term.replace("x", x).replace("y", y) + ")" for x, y in zip(xs, ys)
    ) + ")"


@pytest.mark.parametrize("qid", _LATE_FOLDS)
def test_late_fold_queries_return_the_chains_bits(spark, sf_dir, qid, monkeypatch):
    fn, _ = _QUERIES[qid]

    def rows():
        return sorted(tuple(r) for r in fn(spark, sf_dir).collect())

    folded = rows()
    monkeypatch.setattr(sim, "_fold", _chain_fold)
    assert "aggregate(" not in sim._sqdist_cols([[1.0] * DIM])[0]._jc.toString()
    chained = rows()
    assert folded and [
        tuple(_bits(v) if isinstance(v, float) else v for v in r) for r in folded
    ] == [
        tuple(_bits(v) if isinstance(v, float) else v for v in r) for r in chained
    ]
