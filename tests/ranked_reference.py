"""Pure-Python ranked references for the packed kernels: the analyzed term
sequence of every doc in a frame, and per-query top-k lists ranked the way
the kernels rank them (6-decimal rounded value desc, doc_id asc), with an
optional doc mask that leaves the corpus statistics global."""

from __future__ import annotations

from mini_distributed_search_engine_spark.functions.analyzer import analyze
from mini_distributed_search_engine_spark.query.bm25 import bm25_scores_pandas
from mini_distributed_search_engine_spark.query.phrase import (
    phrase_count_pandas)


def analyzed_docs(docs, stem: bool = True) -> list[list[str]]:
    """Analyzed terms of each doc of a (doc_id, text) frame, indexed by
    doc_id (the ids are dense)."""
    rows = docs.select("doc_id", "text").collect()
    out = [[] for _ in rows]
    for r in rows:
        out[r["doc_id"]] = analyze(r["text"], stem=stem)
    return out


def _top(query_id, hits, k):
    hits.sort(key=lambda h: (-h[0], h[1]))
    return [(query_id, i + 1, d, v) for i, (v, d) in enumerate(hits[:k])]


def ranked_scores(docs_terms, queries, scorer=bm25_scores_pandas,
                  keep=None, conjunctive=False, stem=True) -> list[tuple]:
    """Sorted (query_id, rank, doc_id, score) rows: docs holding any query
    term (every term when ``conjunctive``), restricted to ``keep`` (a set
    of doc_ids) when given, scored by ``scorer(docs_terms, terms)`` over
    the whole corpus."""
    out = []
    for q in queries:
        terms = sorted(set(analyze(q.text, stem=stem)))
        scores = scorer(docs_terms, terms)
        hits = []
        for d, doc in enumerate(docs_terms):
            n_hit = len(set(terms).intersection(doc))
            if (n_hit == 0 or (conjunctive and n_hit < len(terms))
                    or (keep is not None and d not in keep)):
                continue
            hits.append((round(scores[d], 6), d))
        out += _top(q.query_id, hits, q.k)
    return sorted(out)


def ranked_phrases(docs_terms, queries, keep=None) -> list[tuple]:
    """Sorted (query_id, rank, doc_id, n_occ) rows of the phrase queries,
    restricted to ``keep`` when given."""
    out = []
    for q in queries:
        hits = [(c, d) for d, c in
                enumerate(phrase_count_pandas(docs_terms, q.text))
                if c > 0 and (keep is None or d in keep)]
        out += _top(q.query_id, hits, q.k)
    return sorted(out)
