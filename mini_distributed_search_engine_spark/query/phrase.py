"""Exact phrase search over a positional index.

Beyond the reference (whose index stores only term counts,
`Integration/src/cis5550/jobs/Indexer.java:309-415`, so it cannot answer
phrase queries at all) — a standard fulltext capability a search-engine
user expects, built Spark-first:

* index: ``term_positions_df`` rows (doc_id, term, pos), pos over the
  POST-ANALYZER term sequence (stop/junk removed first, Lucene-style).
* query: phrase [t0..tn] matches at anchor p iff t_i is at p+i for all i:
  the anchors of a doc are the intersection over slots i of
  (positions(t_i) - i), so repeated-term phrases need no special case.
* ranking: phrase-occurrence count DESC, doc_id ASC (deterministic).
* serving: `phrase_match_packed` answers it from the packed positional
  segments through `positional_topk`, the per-shard kernel it shares
  with span/near, ending in the driver merge. `phrase_count_pandas` is
  the brute-force test reference.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.analyzer import analyze
from ..index.positions import _PSeg
from .bm25 import Query, term_in
from .wand import (_as_blocked, _driver_rank, _empty_ranked, _in_sorted,
                   _ranked_schema)

# Phrase query set over the sf documents vocabulary: common bigram, rare
# trigram, repeated-term bigram, absent-term phrase (empty), single term
# (n_occ == tf).
PHRASE_QUERY_SET: tuple[Query, ...] = (
    Query("p01", "table scan", k=100),
    Query("p02", "sort merge", k=100),
    Query("p03", "batch batch", k=100),
    Query("p04", "merge sort batch", k=100),
    Query("p05", "fast zzzznotaterm", k=100),
    Query("p06", "window", k=20),
)


def phrase_terms(queries: tuple[Query, ...],
                 stem: bool = True) -> list[tuple[str, int, str]]:
    """(query_id, slot_index, term) — ORDER AND DUPLICATES PRESERVED
    (unlike bm25.analyzed_query_terms, which dedups)."""
    rows = []
    for q in queries:
        for i, t in enumerate(analyze(q.text, stem=stem)):
            rows.append((q.query_id, i, t))
    return rows


def positional_topk(spark: SparkSession, packed_pos: DataFrame,
                    per_query: dict, value: str, ascending: bool,
                    blocked_ids=None) -> DataFrame:
    """The one kernel of the packed positional queries (phrase, near):
    (query_id, rank, doc_id, <value>) per query, ranked by ``value`` in
    the given direction, ties by doc_id asc.

    ``per_query`` maps query_id -> (terms, k, match). Distributed shape
    mirrors `wand.wand_topk`: the query terms' literal IN-list prunes the
    packed positional segments (`index/positions.py`), one Arrow group per
    doc-range shard (shards partition the doc space, so per-shard exact
    top-k merged globally is exact). Inside a shard the candidate docs
    are the intersection of the distinct terms' doc lists (gap streams
    only — positions stay encoded); ``blocked_ids`` (query-time
    tombstones) drop candidates before any position decode, the same LSM
    discipline as `wand_topk`; then only the position blocks holding
    candidates decode (`_PSeg.lists_for`) and ``match(plists, j)`` —
    plists maps each term to its per-candidate position arrays — gives
    candidate j's value, or None when it does not match. The per-shard
    top-k candidates end in the driver merge `wand._driver_rank`.
    """
    if not per_query:
        return _empty_ranked(spark, _ranked_schema(value, T.LongType()))
    blocked = _as_blocked(blocked_ids)
    sign = 1 if ascending else -1

    def shard_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        segs = {r.term: _PSeg(r) for r in pdf.itertuples(index=False)}
        out_q, out_d, out_v, out_k = [], [], [], []
        for query_id, (terms, k, match) in per_query.items():
            uniq = sorted(set(terms))
            if any(t not in segs for t in uniq) or k <= 0:
                continue  # a term absent from this shard -> no match here
            cand = functools.reduce(
                np.intersect1d, (segs[t].docs() for t in uniq))
            if blocked is not None and cand.size:
                cand = cand[~_in_sorted(cand, blocked)]
            if cand.size == 0:
                continue
            plists = {t: segs[t].lists_for(cand) for t in uniq}
            hits = [(cand[j], v) for j in range(cand.size)
                    if (v := match(plists, j)) is not None]
            if not hits:
                continue
            nd, nv = np.array(hits, dtype=np.int64).T
            order = np.lexsort((nd, sign * nv))[:k]
            out_q += [query_id] * order.size
            out_k += [k] * order.size
            out_d.append(nd[order])
            out_v.append(nv[order])
        empty = [np.empty(0, dtype=np.int64)]
        return pd.DataFrame({"query_id": pd.Series(out_q, dtype=object),
                             "doc_id": np.concatenate(out_d or empty),
                             value: np.concatenate(out_v or empty),
                             "k": np.array(out_k, dtype="int32")})

    term_list = sorted({t for terms, _, _ in per_query.values()
                        for t in terms})
    cands = (packed_pos.where(term_in(term_list)).groupBy("shard_id")
             .applyInPandas(shard_fn, f"query_id string, doc_id long, "
                                      f"{value} long, k int"))
    return _driver_rank(spark, cands, value, ascending)


def _phrase_match(slots: list[tuple[int, str]]):
    """`positional_topk` match for one phrase: the number of anchors p
    with slot term t_i at p + i for every slot i, or None when zero."""
    def match(plists, j):
        i0, t0 = slots[0]
        anchors = plists[t0][j] - i0
        for i, t in slots[1:]:
            if anchors.size == 0:
                break
            anchors = np.intersect1d(anchors, plists[t][j] - i,
                                     assume_unique=True)
        return anchors.size or None
    return match


def phrase_match_packed(spark: SparkSession, packed_pos: DataFrame,
                        queries: tuple[Query, ...] = PHRASE_QUERY_SET,
                        stem: bool = True,
                        blocked_ids=None) -> DataFrame:
    """Top-k docs per phrase query, (query_id, rank, doc_id, n_occ),
    served from the PACKED positional index through `positional_topk`:
    rank-identical to the DuckDB oracle and `phrase_count_pandas`
    (test-enforced); the scan is per-(term, doc-shard) varint blobs
    pruned to the query terms — no O(occurrence) row join anywhere. Each
    candidate's anchors are the intersection over slots i of
    (positions(t_i) - i); the per-shard top-k by n_occ desc, doc_id asc
    ends in the driver merge, so the call runs its one Spark job eagerly
    and returns a driver-local frame."""
    per_query = {}
    for q in queries:
        slots = list(enumerate(analyze(q.text, stem=stem)))
        if slots:
            per_query[q.query_id] = ([t for _, t in slots], q.k,
                                     _phrase_match(slots))
    return positional_topk(spark, packed_pos, per_query, "n_occ", False,
                           blocked_ids)


def phrase_count_pandas(docs_terms: list[list[str]], phrase_text: str,
                        stem: bool = True) -> list[int]:
    """Brute-force oracle (test-only): phrase occurrences per doc."""
    p = analyze(phrase_text, stem=stem)
    out = []
    for terms in docs_terms:
        if not p:
            out.append(0)
            continue
        n = 0
        for a in range(len(terms) - len(p) + 1):
            if terms[a:a + len(p)] == p:
                n += 1
        out.append(n)
    return out
