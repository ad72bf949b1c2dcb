"""MaxScore/WAND over the packed index must be rank-identical to the
exhaustive DataFrame scorer, across shard spans, merge levels, and skew,
and to the pure-Python BM25 reference under doc filters and AND; its
driver-side rank merge must match a pure-Python reference."""

from __future__ import annotations

import pytest

from mini_distributed_search_engine_spark.index.build import build_index
from mini_distributed_search_engine_spark.index.packed import (
    build_packed_postings, merge_packed, unpack_to_rows)
from mini_distributed_search_engine_spark.query.bm25 import Query, bm25_topk
from mini_distributed_search_engine_spark.query.wand import wand_topk
from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts_pdf)
from ranked_reference import analyzed_docs, ranked_scores

QUERIES = (
    Query("w1", "apple banana fig"),
    Query("w2", "spark"),
    Query("w3", "relational conditional adjustment activate", k=30),
    Query("w4", "zzznope"),
    Query("w5", "search engine index query", k=5),
    Query("w6", "user assistant"),  # hot terms under skew
)


@pytest.fixture(scope="module")
def built(spark):
    pdf = synthesize_transcripts_pdf(80, seed=99, hot_token_frac=0.3)
    idx = build_index(spark.createDataFrame(pdf))
    avgdl = idx.doc_stats.collect()[0]["avgdl"]
    return idx, avgdl


def _collect_ranked(df):
    return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                  for r in df.collect())


@pytest.mark.parametrize("shard_span", [64, 10_000])
def test_wand_matches_exhaustive(spark, built, shard_span):
    idx, avgdl = built
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=shard_span)
    got = _collect_ranked(wand_topk(spark, packed, idx.doc_stats, queries=QUERIES))
    want = _collect_ranked(bm25_topk(spark, idx.term_doc_tf, idx.term_stats,
                                     idx.doc_stats, queries=QUERIES))
    assert [g[:3] for g in got] == [w[:3] for w in want]  # identical ranks/docs
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], abs=1e-6)


def test_merge_preserves_postings_and_results(spark, built):
    idx, avgdl = built
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=64)
    merged = merge_packed(packed, level_factor=4)
    merged2 = merge_packed(merged, level_factor=4)  # second level
    # posting-level equivalence: unpack and compare against the tf table
    orig = {(r["term"], r["doc_id"]): (r["tf"], r["dl"])
            for r in idx.term_doc_tf.collect()}
    got = {(r["term"], r["doc_id"]): (r["tf"], r["dl"])
           for r in unpack_to_rows(merged2).collect()}
    assert got == orig
    # query-level equivalence across merge levels
    want = _collect_ranked(wand_topk(spark, packed, idx.doc_stats, queries=QUERIES))
    got_m = _collect_ranked(wand_topk(spark, merged2, idx.doc_stats, queries=QUERIES))
    assert got_m == want
    # merge actually reduced segment count
    assert merged2.count() < packed.count()


def test_wand_filtered_matches_exhaustive(spark, built):
    """allowed_docs threaded into the packed kernel (cogrouped per shard)
    must rank-match the pure-Python BM25 reference restricted to the
    allowed docs — same global corpus stats."""
    from pyspark.sql import functions as F
    idx, avgdl = built
    allowed = idx.docs.where(F.col("role") == "user").select("doc_id")
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=64)
    got = _collect_ranked(wand_topk(spark, packed, idx.doc_stats,
                                    queries=QUERIES, allowed_docs=allowed))
    want = ranked_scores(analyzed_docs(idx.docs), QUERIES,
                         keep={r["doc_id"] for r in allowed.collect()})
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], abs=1e-6)
    # the filter actually bites: fewer results than the unfiltered run
    unfiltered = _collect_ranked(wand_topk(spark, packed, idx.doc_stats,
                                           queries=QUERIES))
    assert {g[:3] for g in got} != {u[:3] for u in unfiltered}
    # every result doc is in the allowed set
    ok = {r["doc_id"] for r in allowed.collect()}
    assert all(g[2] in ok for g in got)


def test_wand_filtered_empty_allowed(spark, built):
    idx, avgdl = built
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=64)
    empty = idx.docs.where("doc_id < 0").select("doc_id")
    out = wand_topk(spark, packed, idx.doc_stats, queries=QUERIES,
                    allowed_docs=empty)
    assert out.count() == 0


def test_wand_filtered_conjunctive(spark, built):
    """AND semantics + metadata filter: intersection docs masked by the
    allowed set, scores from global stats — equals the pure-Python
    conjunctive reference restricted to allowed docs."""
    from pyspark.sql import functions as F
    idx, avgdl = built
    allowed = idx.docs.where(F.col("role") == "user").select("doc_id")
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=64)
    qs = (Query("c1", "user assistant", k=50), Query("c2", "spark", k=50))
    got = _collect_ranked(wand_topk(spark, packed, idx.doc_stats, queries=qs,
                                    conjunctive=True, allowed_docs=allowed))
    want = ranked_scores(analyzed_docs(idx.docs), qs, conjunctive=True,
                         keep={r["doc_id"] for r in allowed.collect()})
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], abs=1e-6)


def test_driver_rank_matches_sorted_reference(spark, built):
    """rank_candidates — the Arrow driver merge every packed path ends in —
    against a pure-Python sorted() reference on hand-made per-shard
    candidates: equal rounded scores from different shards tie-break by
    doc_id ascending, a k beyond the candidate count keeps every
    candidate, a query with no candidates is absent, and an all-empty
    batch is an empty frame with the ranked schema. The same merge ranks
    a long value ascending (near's min_span), and its empty frame names
    that value column."""
    from functools import reduce
    from pyspark.sql import types as T
    from mini_distributed_search_engine_spark.query.wand import (
        _RANKED_SCHEMA, CAND_SCHEMA, _driver_rank, _ranked_schema,
        rank_candidates)
    shards = [
        # shard 0: q1's highest doc_id first, so the merge must reorder
        [("q1", 40, 2.5000001, 3), ("q1", 3, 1.0, 3),
         ("q2", 9, 0.7, 10)],
        # shard 1: scores that round to q1's 2.5 at 6 places
        [("q1", 12, 2.5000004, 3), ("q1", 7, 2.4999999, 3),
         ("q2", 5, 0.3, 10)],
        # shard 2: q2 has 3 candidates in all, k=10 keeps them all
        [("q2", 1, 0.3, 10), ("q1", 2, 0.2, 3)],
    ]
    # a batch query "q3" found no candidates on any shard: no rows at all

    def reference(rows):
        by_q: dict = {}
        for q, d, s, k in rows:
            by_q.setdefault(q, []).append((-round(s, 6), d, k))
        out = []
        for q, cand in by_q.items():
            for rank, (neg, d, k) in enumerate(sorted(cand)[:cand[0][2]], 1):
                out.append((q, rank, d, -neg))
        return sorted(out)

    cands = reduce(lambda a, b: a.union(b),
                   [spark.createDataFrame(rows, CAND_SCHEMA)
                    for rows in shards])
    got = _collect_ranked(rank_candidates(spark, cands, 6))
    want = reference([r for rows in shards for r in rows])
    assert got == want
    assert [g[2] for g in got if g[0] == "q1"] == [7, 12, 40]
    assert [g[2] for g in got if g[0] == "q2"] == [9, 1, 5]
    assert not [g for g in got if g[0] == "q3"]

    empty = rank_candidates(
        spark, spark.createDataFrame([], CAND_SCHEMA), 6)
    assert empty.schema == _RANKED_SCHEMA
    assert empty.collect() == []

    # a long value ranked ascending (span's min_span): equal spans from
    # different shards tie-break by doc_id ascending, as for scores
    span_schema = "query_id string, doc_id long, min_span long, k int"
    spans = [[("s1", 30, 2, 3), ("s1", 4, 5, 3), ("s2", 8, 0, 1)],
             [("s1", 11, 2, 3), ("s1", 2, 7, 3), ("s2", 6, 0, 1)]]
    cands = reduce(lambda a, b: a.union(b),
                   [spark.createDataFrame(rows, span_schema)
                    for rows in spans])
    got = sorted(tuple(r) for r in
                 _driver_rank(spark, cands, "min_span", True).collect())
    assert got == [("s1", 1, 11, 2), ("s1", 2, 30, 2), ("s1", 3, 4, 5),
                   ("s2", 1, 6, 0)]
    empty = _driver_rank(spark, spark.createDataFrame([], span_schema),
                         "min_span", True)
    assert empty.schema == _ranked_schema("min_span", T.LongType())
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "rank", "doc_id", "min_span"]
    assert empty.collect() == []

    idx, avgdl = built
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=64)
    with pytest.raises(ValueError, match="final_rank"):
        wand_topk(spark, packed, idx.doc_stats, queries=QUERIES,
                  final_rank="window")


def test_term_in_escapes_literals_and_pushes_down(spark, tmp_path):
    """The term prune is one parsed IN over escaped literals: a term with
    a quote or a backslash matches itself only, and the predicate still
    reaches the parquet scan as a pushed In filter."""
    from mini_distributed_search_engine_spark.query.bm25 import term_in

    odd = ["it's", "a\\b", "c\\'d", "'"]
    path = str(tmp_path / "terms")
    spark.createDataFrame([(t,) for t in odd + ["its", "ab", "x"]],
                          "term string").write.parquet(path)
    sel = spark.read.parquet(path).where(term_in(odd + ["absent"]))
    assert sorted(r["term"] for r in sel.collect()) == sorted(odd)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(term," in plan, plan
    assert spark.read.parquet(path).where(term_in([])).count() == 0
