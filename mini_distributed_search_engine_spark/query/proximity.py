"""Proximity-boosted BM25: term closeness breaks score ties.

Classic IR refinement the reference's Searcher lacks (its blend is
TF-weight + PageRank only, Searcher.java:240-317): documents where the
query terms appear NEAR each other outrank documents that merely contain
them scattered. Score = BM25 + w * sum over unordered query-term pairs of
1 / (1 + min |pos_a - pos_b|) — the bonus peaks at 1 per pair for
adjacent terms and decays hyperbolically, a standard pairwise-min-dist
formulation (Rasolofo & Savoy 2003 shape).

Served from the compressed indexes only (`wand_topk_proximity`): the
packed TF segments cogrouped per doc-range shard with the co-sharded
packed positional segments, one kernel with WAND's MaxScore pruning.
Docs matching a single term keep bonus 0 and rank purely by BM25 (OR
semantics preserved). `proximity_scores_pandas` is the brute-force
test reference.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .bm25 import (DEFAULT_QUERY_SET, Query, analyzed_query_terms,
                   bm25_scores_pandas, term_in)

PROX_W = 1.0  # bonus weight: one adjacent pair ~ one strong BM25 term


def _min_pair_dist(x: np.ndarray, y: np.ndarray) -> int:
    """min |x_i - y_j| over two sorted position arrays — searchsorted
    neighbors only, O((|x|) log |y|), never the cross product."""
    idx = np.searchsorted(y, x)
    big = np.int64(1) << 62
    lo = np.where(idx > 0, x - y[np.maximum(idx - 1, 0)], big)
    hi = np.where(idx < y.size, y[np.minimum(idx, y.size - 1)] - x, big)
    return int(np.minimum(lo, hi).min())


def wand_topk_proximity(spark: SparkSession, packed: DataFrame,
                        packed_pos: DataFrame, doc_stats: DataFrame,
                        queries: tuple[Query, ...] = DEFAULT_QUERY_SET,
                        stem: bool = True, w: float = PROX_W,
                        round_scores: int | None = 6,
                        corpus_stats: tuple[int, float] | None = None,
                        blocked_ids=None) -> DataFrame:
    """(query_id, rank, doc_id, score): BM25 + pairwise proximity bonus,
    served from the COMPRESSED indexes: packed TF segments
    (`index/packed.py`) cogrouped per doc-range shard with packed
    positional segments (`index/positions.py`). Rank-identical to the
    DuckDB oracle and to `proximity_scores_pandas` (test-enforced; ranked
    on the rounded score desc, doc_id asc), one Spark job warm, ranked by
    the driver-side merge of `wand.rank_candidates` (eager, like
    `wand.wand_topk`).

    REQUIRES the two packed tables to share the shard_id mapping — build
    the positional side with ``build_packed_positions(shard_bounds=
    compute_shard_bounds(packed))`` so positions co-shard with the TF
    layout (merge levels included); the kernel then sees both halves of
    a doc range in one Arrow group with no row-level join. The contract
    is GUARDED: a shard group whose two sides cover disjoint doc ranges
    (the mismatched-span symptom) raises instead of silently scoring
    every bonus as 0.

    Pruning stays sound under the bonus: a doc's proximity bonus is at
    most ``w * C(m, 2)`` for m query terms (each pair contributes <= 1),
    so MaxScore's remaining-bound and block-max tests carry that slack
    while theta stays the k-th best *BM25-only* pool score — a lower
    bound of the k-th best final score, since the bonus is non-negative.
    Surviving candidates decode ONLY the position blocks that hold them
    (`_PSeg.lists_for`); the exact bonus then reranks the pool.

    ``blocked_ids``: query-time tombstones, dropped at candidate decode
    (same LSM discipline as `wand_topk`).
    """
    from ..index.positions import _PSeg
    from .wand import (CAND_SCHEMA, _as_blocked, _empty_ranked, _shard_topk,
                       rank_candidates)

    qrows = analyzed_query_terms(queries, stem=stem)
    if corpus_stats is None:
        stats = doc_stats.collect()[0]
        corpus_stats = (int(stats["n_docs"]), float(stats["avgdl"]))
    n_docs, avgdl = corpus_stats
    term_list = sorted({t for _, t, _ in qrows})
    if not term_list:
        return _empty_ranked(spark)
    per_query: dict[str, tuple[list, int]] = {}
    for query_id, term, k in qrows:
        per_query.setdefault(query_id, ([], k))
        per_query[query_id][0].append(term)
    queries_meta = [(q, ts, k) for q, (ts, k) in per_query.items()]

    def bonus_rerank(query_id, present_terms, docs, scores, psegs):
        """Exact pairwise-min-distance bonus for the surviving pool
        (docs sorted ascending): positions decoded only for the blocks
        holding candidates; pair ordering (t1 < t2 by string) matches
        the oracle formulation."""
        final = scores.copy()
        uniq = sorted(set(present_terms))
        if len(uniq) < 2 or not psegs:
            return final
        plists = {t: psegs[t].lists_for(docs) for t in uniq if t in psegs}
        for ta, tb in itertools.combinations(sorted(plists), 2):
            la, lb = plists[ta], plists[tb]
            for j in range(docs.size):
                if la[j].size and lb[j].size:
                    final[j] += w / (1.0 + _min_pair_dist(la[j], lb[j]))
        return final

    # ONE kernel with wand: _shard_topk's disjunctive MaxScore branch,
    # prune tests widened by the bonus slack, pool reranked exactly
    base = _shard_topk(queries_meta, n_docs, avgdl, round_scores,
                       blocked=_as_blocked(blocked_ids),
                       bound_slack=lambda m: w * m * (m - 1) / 2.0,
                       pool_rerank=bonus_rerank)

    def shard_fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # co-sharding guard: under a shard-span mismatch the cogroup
        # pairs a TF shard with a positional shard covering a DISJOINT
        # doc range — every bonus would silently come out 0. Fail loudly
        # instead (partial overlap stays legal: boundary shards, purged
        # TF segments). A mismatch always produces at least one fully
        # disjoint pairing beyond shard 0, so this check cannot stay
        # silent across a whole misaligned index.
        if len(left):
            # every TF posting has >= 1 position, so a term scored in
            # this shard MUST have its positional twin here — a missing
            # term means its positions landed in some OTHER shard id
            # (the stale-index / span-mismatch symptom). The converse
            # (positions without TF) stays legal: purge_docs rewrites
            # only the TF side between compactions.
            missing = set(left["term"]) - set(right["term"])
            if missing:
                raise ValueError(
                    "positions are not co-sharded with the packed TF "
                    f"index (terms {sorted(missing)[:3]} have TF "
                    "segments but no positional segment in their "
                    "shard group); build them with "
                    "build_packed_positions(shard_bounds="
                    "compute_shard_bounds(packed))")
            if len(right) and (
                    int(right["first_doc"].min()) > int(left["last_doc"].max())
                    or int(right["last_doc"].max())
                    < int(left["first_doc"].min())):
                raise ValueError(
                    "positions are not co-sharded with the packed TF "
                    "index (disjoint doc ranges inside one shard_id "
                    "group); build them with build_packed_positions("
                    "shard_bounds=compute_shard_bounds(packed))")
        psegs = {r.term: _PSeg(r) for r in right.itertuples(index=False)}
        return base(left, psegs)

    sel_tf = packed.where(term_in(term_list))
    sel_pos = packed_pos.where(term_in(term_list))
    cands = (sel_tf.groupBy("shard_id")
             .cogroup(sel_pos.groupBy("shard_id"))
             .applyInPandas(shard_fn, CAND_SCHEMA))
    return rank_candidates(spark, cands, round_scores)


def proximity_scores_pandas(docs_terms: list[list[str]],
                            query_terms: list[str],
                            w: float = PROX_W) -> list[float]:
    """Brute-force oracle (test-only): `bm25_scores_pandas` plus
    ``w * sum 1 / (1 + min |pa - pb|)`` over the unordered distinct
    query-term pairs a doc contains, positions being indexes into its
    analyzed term sequence."""
    terms = sorted(set(query_terms))
    scores = bm25_scores_pandas(docs_terms, terms)
    for i, doc in enumerate(docs_terms):
        pos = {t: [p for p, u in enumerate(doc) if u == t] for t in terms}
        for ta, tb in itertools.combinations(terms, 2):
            if pos[ta] and pos[tb]:
                d = min(abs(a - b) for a in pos[ta] for b in pos[tb])
                scores[i] += w / (1.0 + d)
    return scores
