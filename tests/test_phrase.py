"""Phrase search: the packed anchor-intersection kernel must match a
brute-force sliding-window oracle over the analyzed term sequences."""

from __future__ import annotations

import pytest

from mini_distributed_search_engine_spark.functions.analyzer import (
    analyze, term_positions_df)
from mini_distributed_search_engine_spark.index.build import (
    with_stable_doc_ids)
from mini_distributed_search_engine_spark.index.positions import (
    build_packed_positions)
from mini_distributed_search_engine_spark.query.bm25 import Query
from mini_distributed_search_engine_spark.query.phrase import (
    phrase_count_pandas, phrase_match_packed)
from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts_pdf)

QUERIES = (
    Query("f1", "apple banana", k=200),
    Query("f2", "the apple", k=200),        # stop word removed pre-position
    Query("f3", "apple apple", k=200),      # repeated-term phrase
    Query("f4", "spark shuffle partition", k=200),
    Query("f5", "apple zzzznotaterm", k=200),  # absent term -> no matches
    Query("f6", "running", k=200),          # single term: n_occ == tf
)


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = synthesize_transcripts_pdf(60, seed=99)
    docs = with_stable_doc_ids(spark.createDataFrame(pdf))
    pos = term_positions_df(docs, "text", stem=True)
    docs_terms = [analyze(t) for t in pdf["text"]]
    return pos, docs_terms


def test_positions_are_dense_per_doc(spark, corpus):
    pos, docs_terms = corpus
    got = {}
    for r in pos.collect():
        got.setdefault(r["doc_id"], []).append((r["pos"], r["term"]))
    for doc_id, terms in enumerate(docs_terms):
        rows = sorted(got.get(doc_id, []))
        assert [p for p, _ in rows] == list(range(len(terms)))
        assert [t for _, t in rows] == terms


def test_phrase_match_vs_oracle(spark, corpus):
    pos, docs_terms = corpus
    by_q = {}
    packed = build_packed_positions(pos, shard_span=64)
    for r in phrase_match_packed(spark, packed, QUERIES).collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for q in QUERIES:
        counts = phrase_count_pandas(docs_terms, q.text)
        exp = sorted(((d, c) for d, c in enumerate(counts) if c > 0),
                     key=lambda r: (-r[1], r[0]))[:q.k]
        rows = sorted(by_q.get(q.query_id, []), key=lambda r: r["rank"])
        assert [(r["doc_id"], r["n_occ"]) for r in rows] == exp, q.text
    # stop-word phrase f2 equals the bare-term phrase (stop removed first)
    f2 = [(r["doc_id"], r["n_occ"]) for r in
          sorted(by_q.get("f2", []), key=lambda r: r["rank"])]
    apple = sorted(((d, c) for d, c in enumerate(
        phrase_count_pandas(docs_terms, "apple")) if c > 0),
        key=lambda r: (-r[1], r[0]))[:200]
    assert f2 == apple


def test_fused_positions_match_jvm_path(spark):
    from mini_distributed_search_engine_spark.functions.analyzer import (
        term_positions_pandas)
    from mini_distributed_search_engine_spark.sources.transcripts import (
        synthesize_transcripts_pdf)
    import pyspark.sql.functions as F
    pdf = synthesize_transcripts_pdf(30, seed=77)
    docs = (spark.createDataFrame(pdf)
            .withColumn("doc_id", F.monotonically_increasing_id()))
    rows = lambda df: sorted((r["doc_id"], r["term"], r["pos"])
                             for r in df.collect())
    a = rows(term_positions_df(docs, "text", stem=True))
    b = rows(term_positions_pandas(docs, "text", stem=True))
    assert a == b and len(a) > 0
