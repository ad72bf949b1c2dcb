"""Conjunctive (AND) retrieval: the packed sorted-array-intersection path
must rank-match a brute-force Python AND oracle, and must differ from
disjunctive results where the intersection is a strict subset."""

from __future__ import annotations

import math

import pytest

from mini_distributed_search_engine_spark.functions.analyzer import analyze
from mini_distributed_search_engine_spark.index.build import build_index
from mini_distributed_search_engine_spark.index.packed import (
    build_packed_postings)
from mini_distributed_search_engine_spark.query.bm25 import Query, bm25_topk
from mini_distributed_search_engine_spark.query.wand import wand_topk
from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts_pdf)

QUERIES = (
    Query("c1", "apple banana", k=50),
    Query("c2", "gyroscopic running", k=50),       # rare pair
    Query("c3", "spark shuffle partition", k=50),
    Query("c4", "apple zzzznotaterm", k=50),        # absent term -> empty
    Query("c5", "running", k=25),                   # single term
)


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = synthesize_transcripts_pdf(80, seed=77)
    idx = build_index(spark.createDataFrame(pdf))
    docs_terms = [analyze(t) for t in pdf["text"]]
    avgdl = float(idx.doc_stats.collect()[0]["avgdl"])
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=64)
    return idx, docs_terms, packed


def _oracle_and(docs_terms, qtext, k):
    qterms = sorted(set(analyze(qtext)))
    if not qterms:
        return []
    n = len(docs_terms)
    dls = [len(d) for d in docs_terms]
    avgdl = sum(dls) / n
    dfs: dict[str, int] = {}
    sets = [set(d) for d in docs_terms]
    for s in sets:
        for t in s:
            dfs[t] = dfs.get(t, 0) + 1
    out = []
    for i, terms in enumerate(docs_terms):
        if not all(t in sets[i] for t in qterms):
            continue
        score = 0.0
        for t in qterms:
            tf = terms.count(t)
            idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            score += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dls[i] / avgdl))
        out.append((i, round(score, 6)))
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:k]


def _collect(df):
    by_q = {}
    for r in df.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
    return by_q


def _packed_and(spark, idx, packed):
    return _collect(wand_topk(spark, packed, idx.doc_stats, queries=QUERIES,
                              conjunctive=True))


def test_conjunctive_rank_identity_vs_oracle(spark, corpus):
    """The packed AND kernel against the brute-force AND oracle."""
    idx, docs_terms, packed = corpus
    pk = _packed_and(spark, idx, packed)
    for q in QUERIES:
        exp = _oracle_and(docs_terms, q.text, q.k)
        rows = pk.get(q.query_id, [])
        assert [r["doc_id"] for r in rows] == [d for d, _ in exp], q.text
        for r, (_, s) in zip(rows, exp):
            assert r["score"] == pytest.approx(s, abs=1e-6), q.text


def test_and_is_strict_subset_of_or(spark, corpus):
    idx, _, packed = corpus
    and_q = _packed_and(spark, idx, packed)
    or_q = _collect(bm25_topk(
        spark, idx.term_doc_tf, idx.term_stats, idx.doc_stats, QUERIES))
    # the rare pair must actually filter: fewer AND hits than OR hits
    assert len(and_q.get("c2", [])) < len(or_q["c2"])
    # absent-term conjunction is empty while the OR still matches
    assert "c4" not in and_q and len(or_q["c4"]) > 0
    # single-term query: AND == OR exactly
    same = [(r["doc_id"], r["score"]) for r in and_q["c5"]]
    assert same == [(r["doc_id"], r["score"]) for r in or_q["c5"]]
