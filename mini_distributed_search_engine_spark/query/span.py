"""Span / near retrieval: all query terms within a token window.

The third member of the positional query family (phrase = exact
adjacency, proximity = soft distance bonus, span = hard window
predicate): a doc qualifies iff it contains EVERY analyzed query term
and some choice of one occurrence per term fits inside a window of
``window`` tokens — ``min_span`` = min over (p_1..p_m), one position per
term, of max(p_i) - min(p_i), and the doc matches iff min_span < window.
Ranking: tightest span first (min_span ASC, doc_id ASC) — deterministic,
so DuckDB can oracle it (the oracle computes the same minimum by brute
force over the per-doc position cross product; the kernel computes it
with the classic sorted-merge sliding window, O(total positions) per
doc).

Beyond the reference (its count-only index cannot express windows,
`jobs/Indexer.java:309-415`); standard IR surface a transcript-search
user expects ("error" near "timeout").

Distributed shape: the one positional kernel `phrase.positional_topk`
it shares with phrase search — literal term IN-list prunes the packed
positional segments, one Arrow group per doc-range shard, candidate docs
intersect on gap streams alone, only the position blocks holding
candidates decode, per-shard top-k then the driver merge
`wand._driver_rank` (shards partition the doc space, so this is exact).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from .bm25 import Query, analyzed_query_terms
from .phrase import positional_topk

DEFAULT_WINDOW = 8

# Span query set over the sf documents vocabulary: common pair, rare
# triple, hot+rare mix, absent term (empty), single term (min_span 0).
SPAN_QUERY_SET: tuple[Query, ...] = (
    Query("s01", "table scan", k=100),
    Query("s02", "merge sort batch", k=100),
    Query("s03", "window dup", k=100),
    Query("s04", "fast zzzznotaterm", k=100),
    Query("s05", "vector", k=20),
)


def _min_span(lists: list[np.ndarray]) -> int:
    """Minimal window covering one position from every list (all sorted,
    non-empty): merge positions tagged by source list, slide a two-pointer
    window until every list is represented — O(total log total)."""
    if len(lists) == 1:
        return 0
    arr = np.concatenate(lists)
    lid = np.concatenate([np.full(a.size, i, dtype=np.int64)
                          for i, a in enumerate(lists)])
    o = np.argsort(arr, kind="stable")
    arr, lid = arr[o], lid[o]
    need = len(lists)
    cnt = np.zeros(need, dtype=np.int64)
    have = 0
    best = np.iinfo(np.int64).max
    left = 0
    for right in range(arr.size):
        c = lid[right]
        cnt[c] += 1
        if cnt[c] == 1:
            have += 1
        while have == need:
            span = int(arr[right] - arr[left])
            if span < best:
                best = span
            cl = lid[left]
            cnt[cl] -= 1
            if cnt[cl] == 0:
                have -= 1
            left += 1
    return int(best)


def _near_match(terms: list[str], window: int):
    """`positional_topk` match for one near query: the candidate's
    min_span over the distinct terms, or None when it is not < window."""
    uniq = sorted(set(terms))

    def match(plists, j):
        span = _min_span([plists[t][j] for t in uniq])
        return span if span < window else None
    return match


def span_near_match(spark: SparkSession, packed_pos: DataFrame,
                    queries: tuple[Query, ...] = SPAN_QUERY_SET,
                    window: int = DEFAULT_WINDOW,
                    stem: bool = True,
                    blocked_ids=None) -> DataFrame:
    """Top-k near-matches per query: (query_id, rank, doc_id, min_span),
    min_span < window, ranked (min_span ASC, doc_id ASC). Eager, like
    `phrase.phrase_match_packed`: one Spark job, a driver-local result.

    ``blocked_ids``: query-time tombstones, dropped before any position
    decode (same LSM discipline as the phrase/WAND kernels)."""
    per_query: dict[str, tuple[list, int]] = {}
    for query_id, term, k in analyzed_query_terms(queries, stem=stem):
        per_query.setdefault(query_id, ([], k))[0].append(term)
    return positional_topk(
        spark, packed_pos,
        {q: (ts, k, _near_match(ts, int(window)))
         for q, (ts, k) in per_query.items()},
        "min_span", True, blocked_ids)


def span_count_pandas(docs_terms: list[list[str]], query_text: str,
                      stem: bool = True) -> list[int | None]:
    """Brute-force oracle (test-only): per doc, the minimal covering span
    of the query's distinct analyzed terms (None when a term is absent)."""
    from ..functions.analyzer import analyze
    import itertools
    uniq = sorted(set(analyze(query_text, stem=stem)))
    out: list[int | None] = []
    for terms in docs_terms:
        poss = [[i for i, t in enumerate(terms) if t == u] for u in uniq]
        if not uniq or any(not p for p in poss):
            out.append(None)
            continue
        best = min(max(c) - min(c) for c in itertools.product(*poss))
        out.append(best)
    return out
