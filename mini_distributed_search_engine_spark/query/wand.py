"""Exact top-k over the packed index with MaxScore pruning (WAND family).

Distributed shape: query terms -> literal IN-list prune of the packed
segments (row-group/cache-batch pruning) -> one Arrow group per doc-shard
(shards partition the doc space, so per-shard exact top-k union-ed then
globally ranked is exact) -> one Arrow collect of the candidates, merged
into the global top-k on the driver. One Spark job: idf inputs (per-term
global df) are stored IN the segments, and corpus stats (n_docs, avgdl)
are a one-row collect at call time.

Inside a shard (numpy, no per-posting Python): term-at-a-time MaxScore with
BLOCK-MAX skipping. Terms sorted by upper bound U_t = idf_t * ub_norm_t from
the STORED segment metadata (no decode; rescaled soundly under avgdl drift —
see _Seg). Processing term i, every still-unscored doc lacks all of
t_1..t_{i-1}, so its best possible score is RB_i = sum_{j>=i} U_j; once
RB_i < theta - eps (current k-th best minus half a rounding unit), no unseen
doc can reach the ROUNDED top-k and we stop — the remaining terms' postings
are never fully decoded. Candidates surviving the term loop are first
screened against per-128-posting block maxima (exact own contribution +
block upper bounds of the other terms), then scored exactly with the other
terms decoding ONLY the blocks that contain surviving candidates (per-block
byte offsets stored at encode time). The eps guard plus ranking on rounded
scores with the (score DESC, doc_id ASC) tie-break keeps results
engine-invariant under float association noise. Proven rank-identical to
the exhaustive `bm25.bm25_topk` scorer (OR) and to the pure-Python
`bm25.bm25_scores_pandas` under AND and doc filters in tests/test_wand.py.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index.packed import _as_sorted_ids
from ..index.codec import (BLOCK, K1, block_ends_array, decode_postings,
                           tf_norm, varint_decode)
from .bm25 import (DEFAULT_QUERY_SET, Query, analyzed_query_terms,
                   term_in)


def _ranked_schema(value: str = "score",
                   dtype: T.DataType = T.DoubleType()) -> T.StructType:
    """(query_id, rank, doc_id, <value>): the shape every ranked packed
    path returns; ``value`` is its rank key (score, n_occ or min_span)."""
    return T.StructType([
        T.StructField("query_id", T.StringType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField(value, dtype, False),
    ])


_RANKED_SCHEMA = _ranked_schema()

CAND_SCHEMA = T.StructType([
    T.StructField("query_id", T.StringType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
    # per-query k rides with every candidate row so the final rank filter
    # needs no extra broadcast join (one fewer stage on the serving path)
    T.StructField("k", T.IntegerType(), False),
])


class _Seg:
    """One (term, shard) segment with LAZY decode.

    Nothing is decoded at construction: MaxScore term ordering and the
    stop test use the STORED block-max metadata, rescaled soundly for
    avgdl drift after incremental appends (tf_norm is increasing in
    avgdl, and tf_norm(a_now) <= tf_norm(a_enc) * max(1, a_now/a_enc),
    always <= K1+1 — see codec.encode_postings). Posting bytes are decoded
    on demand: `full()` for driver terms, single 128-posting `block()`
    slices (via the stored per-block byte offsets) for lookup-only terms —
    a hot term consulted only at k candidate docs decodes ~k blocks instead
    of up to shard_span postings.
    """
    __slots__ = ("idf", "df", "first_doc", "ub_norm", "avgdl",
                 "_gaps", "_tfb", "_dlb", "_block_last", "_block_ub",
                 "_gap_ends", "_tf_ends", "_dl_ends", "_full")

    def __init__(self, r, n_docs: int, avgdl: float):
        self.idf = math.log(1.0 + (n_docs - r.global_df + 0.5)
                            / (r.global_df + 0.5))
        self.df = int(r.df)
        self.first_doc = int(r.first_doc)
        self.avgdl = avgdl
        self._gaps = bytes(r.doc_gaps)
        self._tfb = bytes(r.tfs)
        self._dlb = bytes(r.dls)
        self._block_last = np.asarray(r.block_last_doc, dtype=np.int64)
        self._full = None
        scale = max(1.0, avgdl / float(r.enc_avgdl))
        self.ub_norm = min(K1 + 1.0, float(r.max_tf_norm) * scale)
        self._block_ub = np.minimum(
            K1 + 1.0, np.asarray(r.block_max_tf_norm, dtype=np.float64) * scale)
        self._gap_ends = block_ends_array(bytes(r.block_gap_ends))
        self._tf_ends = block_ends_array(bytes(r.block_tf_ends))
        self._dl_ends = block_ends_array(bytes(r.block_dl_ends))

    def full(self) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, tf_norms) for the whole segment (memoized)."""
        if self._full is None:
            dec = decode_postings(self._gaps, self._tfb, self._dlb)
            self._full = (dec.doc_ids,
                          tf_norm(dec.tfs, dec.dls, self.avgdl))
        return self._full

    def _bulk_blocks(self, need: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Decode ONLY blocks ``need`` (sorted ascending): slice their byte
        ranges out of the three streams, join, and run ONE vectorized
        varint pass over the combined buffer — cost is proportional to the
        touched blocks' bytes, not the segment. Per-block absolute docIDs
        are rebuilt from the one global cumsum by subtracting each block's
        inherited prefix and adding its base (the previous block's last
        doc). The combined doc array is globally ascending (blocks cover
        ascending doc ranges), so callers can binary-search it directly."""
        ge, te, de = self._gap_ends, self._tf_ends, self._dl_ends
        g0 = np.where(need > 0, ge[need - 1], 0)
        t0 = np.where(need > 0, te[need - 1], 0)
        d0 = np.where(need > 0, de[need - 1], 0)
        gbuf = b"".join([self._gaps[a:b] for a, b in zip(g0, ge[need])])
        gaps = varint_decode(gbuf).astype(np.int64)
        tfs = varint_decode(b"".join(
            [self._tfb[a:b] for a, b in zip(t0, te[need])])).astype(np.int64)
        dls = varint_decode(b"".join(
            [self._dlb[a:b] for a, b in zip(d0, de[need])])).astype(np.int64)
        # per-block VALUE counts from the varint terminator bytes (block
        # sizes are irregular after merges: splices keep original block
        # boundaries) — one vectorized pass over the touched bytes
        barr = np.frombuffer(gbuf, dtype=np.uint8)
        end_cum = np.cumsum((barr & 0x80) == 0)
        byte_ends = np.cumsum((ge[need] - g0).astype(np.int64))
        cnt = end_cum[byte_ends - 1]
        sizes = np.diff(np.concatenate([[0], cnt]))
        starts = np.concatenate([[0], cnt[:-1]])
        csum = np.cumsum(gaps)
        prev_csum = np.where(starts > 0, csum[starts - 1], 0)
        base = np.where(need > 0, self._block_last[need - 1], 0)
        docs = csum + np.repeat(base - prev_csum, sizes)
        return docs, tf_norm(tfs, dls, self.avgdl)

    def lookup(self, docs: np.ndarray) -> np.ndarray:
        """tf_norm at each of ``docs`` (sorted ascending), 0.0 where the
        segment has no posting — decoding only the blocks that can contain
        them."""
        out = np.zeros(docs.size, dtype=np.float64)
        if not self._block_last.size:
            return out
        if self._full is None:
            bidx = np.searchsorted(self._block_last, docs)
            ok = (docs >= self.first_doc) & (bidx < self._block_last.size)
            need = np.unique(bidx[ok])
            if need.size == 0:
                return out
            if need.size * BLOCK * 2 >= self.df:
                self.full()  # touching most of the segment: one-shot decode
            else:
                d, nrm = self._bulk_blocks(need)
                sel = np.nonzero(ok)[0]
                pos = np.searchsorted(d, docs[sel])
                pos_c = np.minimum(pos, d.size - 1)
                hit = d[pos_c] == docs[sel]
                out[sel[hit]] = nrm[pos_c[hit]]
                return out
        d, nrm = self.full()
        pos = np.searchsorted(d, docs)
        pos_c = np.minimum(pos, d.size - 1)
        hit = d[pos_c] == docs
        out[hit] = nrm[pos_c[hit]]
        return out

    def block_ub_at(self, docs: np.ndarray) -> np.ndarray:
        """Sound upper bound of tf_norm at each doc: the (rescaled) block
        max of the block that would contain it, 0 outside the segment's doc
        range. No decode."""
        out = np.zeros(docs.size, dtype=np.float64)
        bidx = np.searchsorted(self._block_last, docs)
        ok = (docs >= self.first_doc) & (bidx < self._block_last.size)
        out[ok] = self._block_ub[bidx[ok]]
        return out


def _in_sorted(docs: np.ndarray, allowed: np.ndarray) -> np.ndarray:
    """Boolean membership of ``docs`` in sorted array ``allowed`` (both
    int64); O((|docs|) log |allowed|), no hashing."""
    if allowed.size == 0:
        return np.zeros(docs.size, dtype=bool)
    pos = np.minimum(np.searchsorted(allowed, docs), allowed.size - 1)
    return allowed[pos] == docs


def _as_blocked(blocked_ids) -> np.ndarray | None:
    """Query-time tombstones as the sorted int64 array the kernels mask
    candidates with (`_in_sorted`), or None when there are none."""
    if blocked_ids is None:
        return None
    ids = _as_sorted_ids(blocked_ids)
    return ids if ids.size else None


def compute_shard_bounds(packed: DataFrame) -> list[tuple[int, int]]:
    """(lo, shard_id) per shard over the WHOLE packed index — the
    query-independent input to `wand_topk(shard_bounds=...)`. One
    metadata-scale job (a row per shard); compute once at engine warmup,
    reuse on every filtered query."""
    return sorted((int(r["lo"]), int(r["shard_id"])) for r in
                  packed.groupBy("shard_id")
                  .agg(F.min("first_doc").alias("lo")).collect())


def _shard_topk(queries_meta: list[tuple[str, list[str], int]],
                n_docs: int, avgdl: float, round_scores: int | None,
                conjunctive: bool = False, filtered: bool = False,
                blocked: np.ndarray | None = None,
                bound_slack=None, pool_rerank=None):
    """applyInPandas fn: one doc-shard's segments -> per-query top-k
    candidates. queries_meta: (query_id, terms, k); idf comes from the
    segments' stored global_df. ``conjunctive=True`` = AND semantics:
    sorted-array posting-list intersection (a doc's postings for every term
    live in the same doc-range shard, so per-shard intersection is exact).

    ``filtered=True`` returns a COGROUP fn (segments, allowed-doc rows):
    candidates are masked against the shard's sorted allowed-doc array the
    moment they are decoded, BEFORE any scoring or theta seeding — the
    MaxScore bounds stay sound because theta is then the k-th best among
    allowed docs only, and every upper bound still dominates every doc,
    allowed included. Corpus statistics (idf, avgdl) stay global: standard
    filtered-search semantics, rank-identical to the DuckDB oracle's
    doc filter and to `bm25.bm25_scores_pandas` over the allowed docs
    (test-enforced).

    ``blocked`` (a sorted int64 array riding the closure — tombstones, so
    metadata-scale by the LSM discipline: `packed.purge_docs` folds them
    in at compaction before the set grows) drops candidates the moment
    they are decoded, same soundness argument as the allowed mask with
    the membership test inverted.

    ``bound_slack`` / ``pool_rerank`` are the SECOND-STAGE-RANKER hooks
    (disjunctive branch only; proximity.wand_topk_proximity is the
    client): ``bound_slack(n_terms) -> float`` is a sound upper bound on
    how much a reranker can ADD to any doc's BM25 score — it widens the
    remaining-bound and block-max prune tests while theta stays the k-th
    best BM25-only pool score (a lower bound of the k-th best final
    score, since the addition is non-negative); ``pool_rerank(query_id,
    present_terms, docs, scores, ctx) -> scores`` then scores the
    surviving pool exactly, with ``ctx`` whatever the caller's cogroup
    wrapper passed to ``run`` (e.g. decoded positional segments). One
    kernel, every prune fix lands on both paths."""
    eps = 10.0 ** (-round_scores) if round_scores is not None else 0.0

    def run(pdf: pd.DataFrame, allowed: np.ndarray | None,
            ctx=None) -> pd.DataFrame:
        segs: dict[str, _Seg] = {}
        for r in pdf.itertuples(index=False):
            segs[r.term] = _Seg(r, n_docs, avgdl)
        out_q, out_d, out_s = [], [], []
        for query_id, qterms, k in queries_meta:
            terms = [(t, segs[t]) for t in qterms if t in segs]
            if not terms or k <= 0:
                continue
            if conjunctive:
                if len(terms) < len(qterms):
                    continue  # a term absent from this shard -> no doc here has it
                # drive with the RAREST term fully decoded; probe the others
                # via selective block decode (membership: tf>=1 -> norm>0),
                # so a hot term decodes only the blocks holding candidates
                terms.sort(key=lambda x: x[1].df)
                docs = terms[0][1].full()[0]
                if allowed is not None:
                    docs = docs[_in_sorted(docs, allowed)]
                if blocked is not None and docs.size:
                    docs = docs[~_in_sorted(docs, blocked)]
                for _, seg in terms[1:]:
                    if docs.size == 0:
                        break
                    docs = docs[seg.lookup(docs) > 0.0]
                if docs.size == 0:
                    continue
                scores = np.zeros(docs.size, dtype=np.float64)
                for _, seg in terms:
                    scores += seg.idf * seg.lookup(docs)  # blocks memoized
                sel_scores = (np.round(scores, round_scores)
                              if round_scores is not None else scores)
                take = min(k, docs.size)
                order = np.lexsort((docs, -sel_scores))[:take]
                out_q += [(query_id, k)] * take
                out_d.append(docs[order])
                out_s.append(scores[order])
                continue
            # MaxScore, term-at-a-time, sorted by upper bound U desc
            slack = float(bound_slack(len(terms))) if bound_slack else 0.0
            terms.sort(key=lambda x: -(x[1].idf * x[1].ub_norm))
            ubs = np.array([seg.idf * seg.ub_norm for _, seg in terms])
            rem = np.cumsum(ubs[::-1])[::-1]  # RB_i = sum of U_j, j >= i
            pool_docs = np.empty(0, dtype=np.int64)
            pool_scores = np.empty(0, dtype=np.float64)
            theta = -math.inf
            for i, (t, seg) in enumerate(terms):
                if rem[i] + slack < theta - eps:
                    break
                docs_i, norms_i = seg.full()
                if pool_docs.size:
                    new_mask = ~np.isin(docs_i, pool_docs, assume_unique=True)
                    new_docs = docs_i[new_mask]
                    own = norms_i[new_mask]
                else:
                    new_docs, own = docs_i, norms_i
                if allowed is not None and new_docs.size:
                    amask = _in_sorted(new_docs, allowed)
                    new_docs, own = new_docs[amask], own[amask]
                if blocked is not None and new_docs.size:
                    bmask = ~_in_sorted(new_docs, blocked)
                    new_docs, own = new_docs[bmask], own[bmask]
                if new_docs.size == 0:
                    continue
                own = seg.idf * own
                # SEED theta before any lookups: own contributions are
                # LOWER bounds of the candidates' final scores (BM25 terms
                # are non-negative), so the k-th largest of (final pool
                # scores ++ own) lower-bounds the final k-th best — valid
                # for pruning even on the FIRST driver term, where the old
                # theta (-inf until k docs were fully scored) forced exact
                # lookups of every candidate in every hot term.
                cand_lb = (np.concatenate([pool_scores, own])
                           if pool_scores.size else own)
                if cand_lb.size >= k:
                    theta = max(theta, float(np.partition(cand_lb, -k)[-k]))
                if theta > -math.inf and any(
                        s._full is None for j, (_, s) in enumerate(terms)
                        if j != i):
                    # BLOCK-MAX prune: candidate's exact own contribution +
                    # per-block upper bounds of every other term — docs that
                    # can't reach the rounded top-k are dropped BEFORE the
                    # exact lookups (and the lookup terms then decode fewer
                    # blocks). Same eps discipline as the term-level stop.
                    # Only worth it while some lookup term is still
                    # undecoded — once every term is fully decoded the
                    # bound pass costs as much as the exact lookups it
                    # would save.
                    bound = own + slack
                    for j, (_, seg2) in enumerate(terms):
                        if j != i:
                            bound += seg2.idf * seg2.block_ub_at(new_docs)
                    keep = bound >= theta - eps
                    new_docs, own = new_docs[keep], own[keep]
                    if new_docs.size == 0:
                        continue
                scores = own.copy()
                for j, (_, seg2) in enumerate(terms):
                    if j != i:
                        scores += seg2.idf * seg2.lookup(new_docs)
                pool_docs = np.concatenate([pool_docs, new_docs])
                pool_scores = np.concatenate([pool_scores, scores])
                if pool_docs.size >= k:
                    theta = np.partition(pool_scores, -k)[-k]
            if pool_docs.size:
                if pool_rerank is not None:
                    order0 = np.argsort(pool_docs)
                    pool_docs = pool_docs[order0]
                    pool_scores = pool_rerank(
                        query_id, [t for t, _ in terms], pool_docs,
                        pool_scores[order0], ctx)
                # per-shard selection follows the GLOBAL ordering discipline:
                # rounded score desc, doc_id asc
                sel_scores = (np.round(pool_scores, round_scores)
                              if round_scores is not None else pool_scores)
                take = min(k, pool_docs.size)
                order = np.lexsort((pool_docs, -sel_scores))[:take]
                out_q += [(query_id, k)] * take
                out_d.append(pool_docs[order])
                out_s.append(pool_scores[order])
        if not out_q:
            return pd.DataFrame({"query_id": pd.Series(dtype="str"),
                                 "doc_id": pd.Series(dtype="int64"),
                                 "score": pd.Series(dtype="float64"),
                                 "k": pd.Series(dtype="int32")})
        return pd.DataFrame({"query_id": [q for q, _ in out_q],
                             "doc_id": np.concatenate(out_d),
                             "score": np.concatenate(out_s),
                             "k": np.array([k for _, k in out_q],
                                           dtype="int32")})

    if filtered:
        def fn_cogroup(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            allowed = np.sort(right["doc_id"].to_numpy(dtype=np.int64))
            return run(left, allowed)
        return fn_cogroup

    def fn(pdf: pd.DataFrame, ctx=None) -> pd.DataFrame:
        return run(pdf, None, ctx)

    return fn


def wand_topk(spark: SparkSession, packed: DataFrame, doc_stats: DataFrame,
              queries: tuple[Query, ...] = DEFAULT_QUERY_SET,
              stem: bool = True,
              round_scores: int | None = 6,
              corpus_stats: tuple[int, float] | None = None,
              conjunctive: bool = False,
              allowed_docs: DataFrame | None = None,
              shard_bounds: list[tuple[int, int]] | None = None,
              blocked_ids=None,
              final_rank: str = "driver") -> DataFrame:
    """Exact BM25 top-k via per-shard MaxScore over the packed index.

    Output schema identical to `bm25.bm25_topk`:
    (query_id, rank, doc_id, score). Pass ``corpus_stats=(n_docs, avgdl)``
    (e.g. cached by SearchEngine at warmup) to skip the doc_stats collect —
    a warm query is then a single Spark job. ``conjunctive=True`` = AND
    semantics (sorted posting-list intersection per shard), checked
    against `oracle.sql_bm25_topk_conjunctive`.

    ``allowed_docs`` (a frame with a doc_id column, e.g. docs filtered by a
    metadata predicate) restricts results to that subset WITHOUT leaving
    the compressed index: the allowed doc_ids are assigned to doc-range
    shards with one narrow searchsorted pass over the (tiny, collected)
    per-shard lower bounds, then COGROUPED with the pruned segments so each
    shard's kernel sees only its own slice of the filter — never a
    broadcast of the full allowed set, never a decode of disallowed
    postings beyond the driver term's scan. Corpus statistics stay global
    (standard filtered-search semantics; the DuckDB oracle is
    `oracle.sql_bm25_topk(doc_filter_sql=...)`).

    ``blocked_ids`` (an iterable of doc_ids — query-time tombstones
    recorded since the last `packed.purge_docs` compaction) excludes
    those docs from candidacy inside the kernel. The set is
    metadata-scale by the LSM discipline, so it rides the task closure
    (8 bytes per id) instead of a cogroup; composes with
    ``allowed_docs``.

    The global rank over the per-shard candidates is the driver-side merge
    of `rank_candidates` — the reference Searcher's own shape
    (`jobs/Searcher.java:234-244`, a PriorityQueue over fetched postings)
    at metadata scale. EAGER: the candidate job runs at call time and the
    result is a driver-local frame. ``final_rank`` accepts only
    ``"driver"`` (kept so existing callers that name it keep working).
    """
    if final_rank != "driver":
        raise ValueError(f"final_rank must be 'driver', got {final_rank!r}")
    qrows = analyzed_query_terms(queries, stem=stem)
    if corpus_stats is None:
        stats = doc_stats.collect()[0]
        corpus_stats = (int(stats["n_docs"]), float(stats["avgdl"]))
    n_docs, avgdl = corpus_stats
    term_list = sorted({t for _, t, _ in qrows})
    if not term_list:
        return _empty_ranked(spark)
    sel = packed.where(term_in(term_list))
    per_query: dict[str, tuple[list, int]] = {}
    for query_id, term, k in qrows:
        per_query.setdefault(query_id, ([], k))
        per_query[query_id][0].append(term)
    queries_meta = [(q, ts, k) for q, (ts, k) in per_query.items()]

    fn = _shard_topk(queries_meta, n_docs, avgdl, round_scores,
                     conjunctive=conjunctive,
                     filtered=allowed_docs is not None,
                     blocked=_as_blocked(blocked_ids))

    if allowed_docs is not None:
        # Per-shard doc lower bounds: tiny (one row per shard after the agg
        # — metadata-scale, like a partition listing), collected once and
        # closed over by the narrow assignment pass below. Any candidate doc
        # lives in some selected segment, hence >= its shard's min first_doc
        # and (doc ranges being disjoint and ordered by shard_id) < the next
        # shard's — searchsorted over the sorted lower bounds is exact.
        # ``shard_bounds`` (from :func:`compute_shard_bounds` at engine
        # warmup) skips this blocking driver job on the serving path; the
        # all-shard bounds are query-independent and remain exact — a doc
        # assigned to a shard with no selected segments lands in a
        # right-only cogroup, whose empty segment side scores nothing.
        bounds = (sorted(shard_bounds) if shard_bounds is not None else
                  sorted((int(r["lo"]), int(r["shard_id"])) for r in
                         sel.groupBy("shard_id")
                         .agg(F.min("first_doc").alias("lo")).collect()))
        los = np.array([lo for lo, _ in bounds], dtype=np.int64)
        sids = np.array([s for _, s in bounds], dtype=np.int32)

        def assign(batches):
            for pdf in batches:
                d = pdf["doc_id"].to_numpy(dtype=np.int64)
                idx = np.searchsorted(los, d, side="right") - 1
                keep = idx >= 0
                yield pd.DataFrame({"shard_id": sids[idx[keep]],
                                    "doc_id": d[keep]})

        allowed_sharded = (allowed_docs.select(F.col("doc_id").cast("long"))
                           .mapInPandas(assign, "shard_id int, doc_id long"))

        def fn_cog(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            return fn(left, right)

        cands = (sel.groupBy("shard_id")
                 .cogroup(allowed_sharded.groupBy("shard_id"))
                 .applyInPandas(fn_cog, CAND_SCHEMA))
    else:
        def fn_typed(pdf: pd.DataFrame) -> pd.DataFrame:
            return fn(pdf)

        cands = sel.groupBy("shard_id").applyInPandas(fn_typed, CAND_SCHEMA)
    return rank_candidates(spark, cands, round_scores)


def rank_candidates(spark: SparkSession, cands: DataFrame,
                    round_scores: int | None) -> DataFrame:
    """Tail of the scored packed paths (WAND, proximity): round the
    per-shard candidates' scores, then merge them driver-side into the
    global per-query top-k (`_driver_rank`, the merge the positional
    kernel ends in too)."""
    score = F.round(F.col("score"), round_scores) if round_scores is not None \
        else F.col("score")
    return _driver_rank(spark, cands.withColumn("score", score))


def _empty_ranked(spark: SparkSession,
                  schema: T.StructType = _RANKED_SCHEMA) -> DataFrame:
    """An empty ranked frame (``schema``) that collects on the driver
    alone. An EMPTY pandas frame falls off the Arrow path (LogicalRDD with
    defaultParallelism empty partitions — a 32-task job per collect, as
    is an empty list input); a one-row LocalRelation filtered to WHERE
    false constant-folds to an empty LocalRelation instead (driver-only
    collect, ~0.05 s vs ~0.4 s measured)."""
    one = pd.DataFrame({f.name: ["x" if f.dataType == T.StringType() else 0]
                        for f in schema.fields})
    return spark.createDataFrame(one, schema=schema).where(F.lit(False))


def _driver_rank(spark: SparkSession, cands: DataFrame,
                 value: str = "score", ascending: bool = False) -> DataFrame:
    """Collect the per-shard candidates (query_id, doc_id, <value>, k) as
    one Arrow batch (metadata-scale: <= shards x k rows per query, scores
    already rounded) and rank them by ``value`` in the given direction,
    ties broken by doc_id asc: one stable sort, a per-query running count
    as the rank, and each row kept while its rank is within its query's
    k (carried on every candidate row) — the reference Searcher's
    driver-side heap (`jobs/Searcher.java:234-244`) without a per-row
    Python loop or a per-request exchange."""
    schema = _ranked_schema(value, cands.schema[value].dataType)
    pdf = cands.select("query_id", "doc_id", value, "k").toPandas()
    if pdf.empty:
        return _empty_ranked(spark, schema)
    pdf = pdf.sort_values(["query_id", value, "doc_id"],
                          ascending=[True, ascending, True], ignore_index=True)
    rank = pdf.groupby("query_id", sort=False).cumcount() + 1
    keep = rank <= pdf["k"]
    # pandas input -> Arrow LocalRelation: a list input would round-trip
    # through sc.parallelize and every downstream collect would schedule a
    # defaultParallelism-task job (measured ~0.3 s vs ~0.02 s)
    out = pd.DataFrame({"query_id": pdf["query_id"][keep],
                        "rank": rank[keep].astype("int32"),
                        "doc_id": pdf["doc_id"][keep],
                        value: pdf[value][keep]})
    return spark.createDataFrame(out, schema=schema)
