"""Exact phrase search over a positional index.

Beyond the reference (whose index stores only term counts,
`Integration/src/cis5550/jobs/Indexer.java:309-415`, so it cannot answer
phrase queries at all) — a standard fulltext capability a search-engine
user expects, built Spark-first:

* index: ``term_positions_df`` rows (doc_id, term, pos), pos over the
  POST-ANALYZER term sequence (stop/junk removed first, Lucene-style).
* query: phrase [t0..tn] matches at anchor p iff t_i is at p+i for all i.
  Declaratively: broadcast (i, t_i) -> join positions -> anchor = pos - i
  -> an anchor with all n+1 distinct i's is a phrase occurrence. One wide
  join against the (term-pruned) positions table + two small aggregations;
  no per-row Python anywhere.
* ranking: phrase-occurrence count DESC, doc_id ASC (deterministic).

Repeated-term phrases work because each position row joins every (i, t)
slot it can fill and the anchor group counts DISTINCT slots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.analyzer import analyze
from .bm25 import Query, term_in

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


def phrase_match(spark: SparkSession, positions: DataFrame,
                 queries: tuple[Query, ...] = PHRASE_QUERY_SET,
                 stem: bool = True) -> DataFrame:
    """Top-k docs per phrase query: (query_id, rank, doc_id, n_occ)."""
    qrows = phrase_terms(queries, stem=stem)
    if not qrows:
        return spark.createDataFrame(
            [], "query_id string, rank int, doc_id long, n_occ long")
    qdf = F.broadcast(spark.createDataFrame(
        qrows, "query_id string, i int, term string"))
    meta = F.broadcast(spark.createDataFrame(
        [(q.query_id, len(analyze(q.text, stem=stem)), q.k) for q in queries
         if analyze(q.text, stem=stem)],
        "query_id string, n int, k int"))

    term_list = sorted({t for _, _, t in qrows})
    pruned = positions.where(term_in(term_list))
    adj = (pruned.join(qdf, "term")
           .withColumn("anchor", F.col("pos") - F.col("i")))
    anchors = (adj.groupBy("query_id", "doc_id", "anchor")
               .agg(F.countDistinct("i").alias("nh")))
    occ = (anchors.join(meta, "query_id")
           .where(F.col("nh") == F.col("n"))
           .groupBy("query_id", "k", "doc_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_occ")))
    w = Window.partitionBy("query_id").orderBy(F.col("n_occ").desc(),
                                               F.col("doc_id").asc())
    out = (occ.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= F.col("k")))
    return out.select("query_id", "rank", "doc_id", "n_occ")


def phrase_match_packed(spark: SparkSession, packed_pos: DataFrame,
                        queries: tuple[Query, ...] = PHRASE_QUERY_SET,
                        stem: bool = True,
                        blocked_ids=None) -> DataFrame:
    """`phrase_match` served from the PACKED positional index
    (`index/positions.py`): rank-identical to the declarative row path
    (test-enforced), but the scan is per-(term, doc-shard) varint blobs
    pruned to the query terms by literal IN-list — no O(occurrence) row
    join anywhere.

    Distributed shape mirrors `wand.wand_topk`: one Arrow group per
    doc-range shard (shards partition the doc space, so per-shard exact
    top-k union-ed then globally ranked is exact). Inside a shard: the
    candidate docs are the intersection of the distinct phrase terms'
    doc lists (gap streams only — positions stay encoded), then each
    candidate's anchors are the intersection over slots i of
    (positions(t_i) - i), decoding ONLY the position blocks that hold
    candidates. ``blocked_ids`` (query-time tombstones) drops candidates
    before any position decode, same LSM discipline as `wand_topk`.
    """
    import functools

    import numpy as np
    import pandas as pd

    from ..index.packed import _as_sorted_ids
    from ..index.positions import _PSeg
    from .wand import _in_sorted

    qrows = phrase_terms(queries, stem=stem)
    if not qrows:
        return spark.createDataFrame(
            [], "query_id string, rank int, doc_id long, n_occ long")
    metas = {}  # query_id -> (slots [(i, term)], k)
    for q in queries:
        slots = [(i, t) for qq, i, t in qrows if qq == q.query_id]
        if slots:
            metas[q.query_id] = (slots, q.k)
    term_list = sorted({t for _, _, t in qrows})
    sel = packed_pos.where(term_in(term_list))

    blocked = None
    if blocked_ids is not None:
        blocked = _as_sorted_ids(blocked_ids)
        if blocked.size == 0:
            blocked = None

    out_schema = ("query_id string, doc_id long, n_occ long, k int")

    def shard_fn(pdf):
        segs = {r.term: _PSeg(r) for r in pdf.itertuples(index=False)}
        out_q, out_d, out_n, out_k = [], [], [], []
        for query_id, (slots, k) in metas.items():
            uniq = sorted({t for _, t in slots})
            if any(t not in segs for t in uniq) or k <= 0:
                continue  # a term absent from this shard -> no phrase here
            cand = functools.reduce(
                np.intersect1d, (segs[t].docs() for t in uniq))
            if blocked is not None and cand.size:
                cand = cand[~_in_sorted(cand, blocked)]
            if cand.size == 0:
                continue
            plists = {t: segs[t].lists_for(cand) for t in uniq}
            occ_d, occ_n = [], []
            for j in range(cand.size):
                anchors = plists[slots[0][1]][j] - slots[0][0]
                for i, t in slots[1:]:
                    if anchors.size == 0:
                        break
                    anchors = np.intersect1d(anchors, plists[t][j] - i,
                                             assume_unique=True)
                if anchors.size:
                    occ_d.append(int(cand[j]))
                    occ_n.append(int(anchors.size))
            if not occ_d:
                continue
            nd = np.array(occ_d, dtype=np.int64)
            nn = np.array(occ_n, dtype=np.int64)
            take = min(k, nd.size)
            order = np.lexsort((nd, -nn))[:take]
            out_q += [query_id] * take
            out_k += [k] * take
            out_d.append(nd[order])
            out_n.append(nn[order])
        if not out_q:
            return pd.DataFrame({"query_id": pd.Series(dtype="str"),
                                 "doc_id": pd.Series(dtype="int64"),
                                 "n_occ": pd.Series(dtype="int64"),
                                 "k": pd.Series(dtype="int32")})
        return pd.DataFrame({"query_id": out_q,
                             "doc_id": np.concatenate(out_d),
                             "n_occ": np.concatenate(out_n),
                             "k": np.array(out_k, dtype="int32")})

    cands = sel.groupBy("shard_id").applyInPandas(shard_fn, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("n_occ").desc(),
                                               F.col("doc_id").asc())
    out = (cands.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= F.col("k")))
    return out.select("query_id", "rank", "doc_id", "n_occ")


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
