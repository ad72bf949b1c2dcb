"""Rank-identity: engine BM25 top-k vs a brute-force pure-Python oracle over
a synthesized corpus (FIXTURES.md §3 discipline: identical docIDs, scores to
1e-9, deterministic tie-break score DESC / doc_id ASC)."""

from __future__ import annotations

import math

import pytest

from mini_distributed_search_engine_spark.functions.analyzer import analyze
from mini_distributed_search_engine_spark.index.build import build_index
from mini_distributed_search_engine_spark.query.bm25 import (
    Query, bm25_scores_pandas, bm25_topk)
from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts, synthesize_transcripts_pdf)

QUERIES = (
    Query("t1", "apple banana"),
    Query("t2", "running"),
    Query("t3", "spark shuffle partition"),
    Query("t4", "the you are"),          # stop-only
    Query("t5", "relational conditional adjustment", k=25),
    Query("t6", "search"),
)


@pytest.fixture(scope="module")
def corpus(spark):
    n_convs = 60  # 240 turns
    pdf = synthesize_transcripts_pdf(n_convs, seed=123)
    sdf = spark.createDataFrame(pdf)
    idx = build_index(sdf)
    # oracle operates on the same stable ordering: pdf rows are already in
    # (conv_id, turn_idx) order by construction
    docs_terms = [analyze(t) for t in pdf["text"]]
    return idx, docs_terms


def test_rank_identity_vs_oracle(spark, corpus):
    idx, docs_terms = corpus
    got = (bm25_topk(spark, idx.term_doc_tf, idx.term_stats, idx.doc_stats,
                     queries=QUERIES, round_scores=None)
           .collect())
    engine = {}
    for r in got:
        engine.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for q in QUERIES:
        qterms = analyze(q.text)
        scores = bm25_scores_pandas(docs_terms, qterms)
        expected = sorted(
            ((s, d) for d, s in enumerate(scores) if s > 0.0),
            key=lambda x: (-x[0], x[1]))[: q.k]
        got_q = sorted(engine.get(q.query_id, []))
        assert len(got_q) == len(expected), (q.query_id, len(got_q), len(expected))
        for (rank, doc_id, score), (exp_score, exp_doc) in zip(got_q, expected):
            assert doc_id == exp_doc, (q.query_id, rank, doc_id, exp_doc)
            assert math.isclose(score, exp_score, rel_tol=0, abs_tol=1e-9), (
                q.query_id, doc_id, score, exp_score)


def test_distributed_synthesizer_matches_local(spark):
    """The mapInPandas synthesizer must agree with the driver-side one on
    schema and determinism (same seed -> same rows)."""
    a = synthesize_transcripts(spark, 8, seed=42).orderBy("conv_id", "turn_idx").collect()
    b = synthesize_transcripts(spark, 8, seed=42).orderBy("conv_id", "turn_idx").collect()
    assert a == b
    assert len(a) == 32
    assert [r["role"] for r in a[:4]] == ["user", "assistant", "system", "tool"]


def test_proximity_promotes_adjacent_terms(spark):
    """Two docs with IDENTICAL BM25 scores (same tf/dl): the one whose
    query terms are adjacent must outrank the scattered one, and a
    single-term match keeps its plain BM25 rank with bonus 0 — asserted
    through the packed proximity kernel over packed frames of hand rows."""
    from mini_distributed_search_engine_spark.index.packed import (
        build_packed_postings)
    from mini_distributed_search_engine_spark.index.positions import (
        build_packed_positions)
    from mini_distributed_search_engine_spark.query.proximity import (
        wand_topk_proximity)
    tf = spark.createDataFrame(
        [("apple", 0, 1, 4), ("banana", 0, 1, 4), ("pad", 0, 2, 4),
         ("apple", 1, 1, 4), ("banana", 1, 1, 4), ("pad", 1, 2, 4)],
        "term string, doc_id long, tf long, dl long")
    ds = spark.createDataFrame([(2, 4.0)], "n_docs long, avgdl double")
    pos = spark.createDataFrame(
        [(0, "apple", 0), (0, "banana", 1), (0, "pad", 2), (0, "pad", 3),
         (1, "apple", 0), (1, "pad", 1), (1, "pad", 2), (1, "banana", 3)],
        "doc_id long, term string, pos int")
    out = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
           for r in wand_topk_proximity(
               spark, build_packed_postings(tf, 4.0, shard_span=64),
               build_packed_positions(pos, shard_span=64), ds,
               queries=(Query("q", "apple banana", k=5),
                        Query("s", "apple", k=5)),
               stem=False).collect()}
    # adjacent (doc 0, dist 1 -> bonus 0.5) beats scattered (doc 1,
    # dist 3 -> bonus 0.25); same BM25 base
    assert out[("q", 1)][0] == 0 and out[("q", 2)][0] == 1
    assert out[("q", 1)][1] - out[("q", 2)][1] == pytest.approx(0.25, abs=1e-6)
    # single-term query: equal scores, doc_id tie-break, no bonus applied
    assert out[("s", 1)][0] == 0 and out[("s", 1)][1] == out[("s", 2)][1]


def test_proximity_scores_pandas_hand_example():
    """The pure-Python proximity reference on the same hand docs: BM25
    plus 0.5 for adjacent terms, 0.25 at distance 3, and no bonus for a
    single-term query."""
    from mini_distributed_search_engine_spark.query.proximity import (
        proximity_scores_pandas)
    docs = [["apple", "banana", "pad", "pad"],
            ["apple", "pad", "pad", "banana"]]
    pair = ["apple", "banana"]
    bonus = [p - b for p, b in zip(proximity_scores_pandas(docs, pair),
                                   bm25_scores_pandas(docs, pair))]
    assert bonus == pytest.approx([0.5, 0.25], abs=1e-12)
    assert (proximity_scores_pandas(docs, ["apple"])
            == bm25_scores_pandas(docs, ["apple"]))
