"""``q_term_stats`` streams its codec round-trip over sorted batches."""

import random

import pandas as pd
from pyspark.sql import functions as F

from informationretrieval_en_people_cn_spark.api import _tf_rows, q_term_stats


def test_term_stats_skewed_term_spans_batches(spark, tmp_path):
    # "common" is in every doc, so its postings span many Arrow batches
    # of one task; the other terms are spread thin
    rnd = random.Random(7)
    words = [f"w{i:03d}" for i in range(300)]
    texts = [
        " ".join(["common"] * rnd.randint(1, 3) + rnd.choices(words, k=rnd.randint(0, 8)))
        for _ in range(3000)
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame({"doc_id": range(3000), "text": texts}).to_parquet(
        sf / "documents.parquet"
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        got = {r.term: (r.df, r.cf) for r in q_term_stats(spark, str(sf)).collect()}
    finally:
        spark.conf.set(key, old)
    want = {
        r.term: (r.df, r.cf)
        for r in _tf_rows(spark, str(sf))
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        .collect()
    }
    assert got["common"][0] == 3000
    assert got == want
