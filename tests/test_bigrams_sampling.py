"""Bigram fused pass vs the positional-self-join spec."""

from __future__ import annotations

from pyspark.sql import functions as F

from mini_distributed_search_engine_spark.functions.analyzer import (
    bigram_counts_pandas, term_positions_pandas)


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "quick brown foxes jumping over lazy dogs"),
        (2, "<b>quick</b> brown fox!! quick brown fox"),
        (3, None),
        (4, "a an the of"),          # all stopwords -> no bigrams
        (5, "solo"),                 # single surviving term -> no bigrams
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bigrams_match_positional_self_join(spark):
    docs = _docs(spark)
    got = {(r["t1"], r["t2"]): r["cnt"]
           for r in bigram_counts_pandas(docs, stem=True).collect()}
    pos = term_positions_pandas(docs, stem=True)
    a, b = pos.alias("a"), pos.alias("b")
    want = {(r["t1"], r["t2"]): r["cnt"] for r in
            (a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
                    & (F.col("b.pos") == F.col("a.pos") + 1))
             .groupBy(F.col("a.term").alias("t1"),
                      F.col("b.term").alias("t2"))
             .agg(F.count("*").alias("cnt"))).collect()}
    assert got == want and got  # non-empty and identical
    # doc 2: "quick brown fox quick brown fox" -> (quick,brown) twice
    assert got[("quick", "brown")] >= 3
