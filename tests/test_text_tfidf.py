"""text_tfidf_topk counts exact terms: the 64-bit term fingerprint only
routes the shuffle, so terms that share one keep their own counts and
their own spelling in the output."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ballista_delta_spark.queries import pipeline


def test_tfidf_matches_oracle_when_every_term_fingerprint_collides(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(
        pipeline, "_term_fingerprint", lambda term: F.lit(0).cast("bigint")
    )
    texts = [
        "apple apple pear fig",
        "pear pear kiwi plum plum plum",
        "fig apple kiwi lime",
        "lime lime lime lime date",
        "date plum pear apple fig kiwi",
    ]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }),
        str(tmp_path / "documents.parquet"),
    )
    fn, oracle = pipeline.QUERIES["text_tfidf_topk"]
    got = sorted(tuple(r) for r in fn(spark, str(tmp_path)).collect())

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    want = sorted(con.sql(oracle).fetchall())
    assert got == want
