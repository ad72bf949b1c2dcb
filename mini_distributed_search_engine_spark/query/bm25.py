"""BM25 scoring + top-k retrieval (k1=1.2, b=0.75).

Replaces the reference's TF-IDF/PageRank blend (`jobs/Searcher.java:189-231`
— tf weight 1+log10(tf), idf log10(1+1500/df), a constant-offset "PageRank"
blend) with pure BM25 per the north rule.

IDF variant (documented because rank-identity depends on it):
    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))
— the Lucene/standard non-negative Robertson form.

Query-time plan (the reference does per-term KVS point lookups,
Searcher.java:163-176; ours is the Spark-native equivalent):
  broadcast the tiny analyzed query-term set -> broadcast-hash semi-join
  prunes the postings scan to matching terms only -> per-(query,doc) partial
  aggregation -> per-query top-k with deterministic tie-break
  (score DESC, doc_id ASC) giving rank-identity.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.analyzer import analyze

K1 = 1.2
B = 0.75


@dataclass(frozen=True)
class Query:
    query_id: str
    text: str
    k: int = 10


# Reference-style query set over the sf documents vocabulary: single common
# term, single rare term, multi-term, absent term, stop-words-only,
# punctuation/case junk, digit junk, one k=500 (Searcher.java:244 cap).
DEFAULT_QUERY_SET: tuple[Query, ...] = (
    Query("q01", "spark query"),
    Query("q02", "vector"),
    Query("q03", "merge sort batch"),
    Query("q04", "the a you only"),          # stop words only -> empty
    Query("q05", "zzzznotaterm"),            # absent term -> empty
    Query("q06", "customer table scan"),
    Query("q07", "window", k=500),
    Query("q08", "dup"),
    Query("q09", "fast value slow"),
    Query("q10", "Group-BY: Joins! 42 supercalifragilisticexpialidocious"),
)


def analyzed_query_terms(queries: tuple[Query, ...] = DEFAULT_QUERY_SET,
                         stem: bool = True) -> list[tuple[str, str, int]]:
    """(query_id, term, k) rows — unique terms per query, same analyzer as
    indexing (driver-side: the query set is tiny and gets broadcast)."""
    rows = []
    for q in queries:
        for term in sorted(set(analyze(q.text, stem=stem))):
            rows.append((q.query_id, term, q.k))
    return rows


def term_in(terms) -> Column:
    """``term IN (...)`` over string literals, parsed from ONE SQL
    expression: `Column.isin` makes a py4j round-trip per literal, which
    a batch of a few hundred distinct query terms pays on every call. The
    parser builds the same `In` predicate, so parquet and in-memory batch
    pruning (PushedFilters) is unchanged. Each literal is escaped for
    Spark's default string-literal syntax (backslash escapes)."""
    lits = ["'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"
            for t in terms]
    return F.expr(f"`term` IN ({', '.join(lits)})") if lits else F.lit(False)


def bm25_topk(spark: SparkSession, term_doc_tf: DataFrame,
              term_stats: DataFrame, doc_stats: DataFrame,
              queries: tuple[Query, ...] = DEFAULT_QUERY_SET,
              stem: bool = True,
              round_scores: int | None = 6) -> DataFrame:
    """Exact BM25 top-k for a query set: the exhaustive OR reference the
    packed kernels are checked against.

    Returns (query_id, rank, doc_id, score); score rounded to
    ``round_scores`` decimals for cross-engine comparison."""
    qrows = analyzed_query_terms(queries, stem=stem)
    if not qrows:
        qrows = [("__none__", "__none__", 0)]
    qterms = spark.createDataFrame(qrows, "query_id string, term string, k int")
    stats = doc_stats.collect()[0]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])

    # Literal IN-list on term BEFORE the joins: unlike a join, a literal
    # predicate prunes parquet row-groups (PushedFilters) and in-memory
    # cache batches by min/max stats — the Spark-native analogue of the
    # reference's per-term KVS point lookup (Searcher.java:163).
    term_list = sorted({t for _, t, _ in qrows})
    pruned = term_doc_tf.where(term_in(term_list))
    sel = pruned.join(F.broadcast(qterms), "term")
    sel = sel.join(F.broadcast(term_stats.where(term_in(term_list))),
                   "term")
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    tf_part = (F.col("tf") * (K1 + 1.0)) / (
        F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.lit(float(avgdl))))
    scored = (sel.withColumn("contrib", idf * tf_part)
              .groupBy("query_id", "k", "doc_id")
              .agg(F.sum("contrib").alias("raw_score")))
    # Rank on the ROUNDED score when rounding is requested: float association
    # order differs between engines/plans, so two structurally-near-tied docs
    # can swap raw order by 1 ulp — ranking on the rounded value plus the
    # doc_id tie-break makes the (rank, doc_id) pairs engine-invariant.
    score = F.round(F.col("raw_score"), round_scores) if round_scores is not None \
        else F.col("raw_score")
    scored = scored.withColumn("score", score)
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               F.col("doc_id").asc())
    out = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= F.col("k")))
    return out.select("query_id", "rank", "doc_id", "score")


# Conjunctive query set: term combinations whose intersection is a strict
# subset of their union on the sf documents tables (e.g. 'dup' appears in
# ~5% of docs, 'key' in ~75% — AND keeps only the overlap), so the AND
# semantics are actually exercised, unlike the 31-word-vocab DEFAULT set
# where long docs contain every common term.
AND_QUERY_SET: tuple[Query, ...] = (
    Query("a01", "dup key", k=500),
    Query("a02", "key fast value", k=500),
    Query("a03", "fast line vector", k=500),
    Query("a04", "dup zzzznotaterm", k=500),   # absent term -> empty
    Query("a05", "window", k=20),               # single term == OR semantics
)


def bm25_scores_pandas(docs_terms: list[list[str]], query_terms: list[str],
                       k1: float = K1, b: float = B) -> list[float]:
    """Brute-force single-node oracle (pure Python/numpy-free, test-only):
    same IDF/TF formulas, fixed association order (sorted unique terms)."""
    import math
    n = len(docs_terms)
    dls = [len(d) for d in docs_terms]
    avgdl = sum(dls) / n if n else 0.0
    dfs: dict[str, int] = {}
    tfs: list[dict[str, int]] = []
    for d in docs_terms:
        cnt: dict[str, int] = {}
        for t in d:
            cnt[t] = cnt.get(t, 0) + 1
        tfs.append(cnt)
        for t in cnt:
            dfs[t] = dfs.get(t, 0) + 1
    scores = []
    for i in range(n):
        s = 0.0
        for t in sorted(set(query_terms)):
            tf = tfs[i].get(t, 0)
            if tf == 0 or t not in dfs:
                continue
            idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dls[i] / avgdl))
        scores.append(s)
    return scores
