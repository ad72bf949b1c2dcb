"""The reference Searcher's OWN ranking function, Spark-native.

Our headline engine ranks with BM25 (north rule), but reference parity means
a Searcher user can run the exact scoring the reference serves today
(`Integration/src/cis5550/jobs/Searcher.java`):

* TF weight  ``1 + log10(tf)``                      (Searcher.java:189)
* IDF        ``log10(1 + 1500/df)`` — the corpus size is HARD-CODED to 1500
             at IDF-cache build time                (Searcher.java:77)
* score      sum over query terms, kept only if > 0.4 (Searcher.java:199-211)
* "PageRank" blend ``0.15*pr + 0.85*tfidf`` with pr hard-coded to 0.15 for
  every doc — a constant offset ``0.15*0.15``      (Searcher.java:214-231)
* top-500 heap with score-descending pop           (Searcher.java:234-244)
* secondary re-rank: results are bucketed by (#query stems matching the
  title, #query stems matching the body) and buckets emitted in descending
  order, original score order inside a bucket      (Searcher.java:275-307,
  countMatchingWords at :83-117)

Deviations, both deliberate and documented:
* deterministic tie-break ``doc_id ASC`` replaces the reference's arbitrary
  heap/HashMap iteration order on equal scores (rank-identity discipline);
* one shared analyzer for title/body/query matching instead of
  countMatchingWords' ad-hoc ``\\s+``-split-then-stem (SURVEY.md §7: the
  reference's three mismatched tokenizers are a quirk, not a capability).
* the transcript analogue of the page *title* is ``role + ' ' + tool`` (the
  turn's structured metadata); the *body* is the turn text.

Distributed shape: scoring is the same broadcast-semi-join plan as bm25.py;
the match counts are two small joins confined to the already-top-k rows
(<= 500 x |queries| rows), so the re-rank adds no full-corpus pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.analyzer import term_tokens_df
from .bm25 import Query, analyzed_query_terms, term_in

N_EST = 1500          # Searcher.java:77 — corpus size baked into the IDF
THRESHOLD = 0.4       # Searcher.java:199
PR_CONST = 0.15       # Searcher.java:214-218 — every doc's "PageRank"
TFIDF_WEIGHT = 0.85   # Searcher.java:227
RESULT_CAP = 500      # Searcher.java:244

# Query set exercising the title-match path: role/tool words ("search",
# "tool", "browse", "assistant", ...) land in the title analogue.
RERANK_QUERY_SET: tuple[Query, ...] = (
    Query("r01", "search value table", k=RESULT_CAP),
    Query("r02", "browse assistant query", k=RESULT_CAP),
    Query("r03", "tool merge calc", k=RESULT_CAP),
    Query("r04", "spark window", k=RESULT_CAP),
)


def tfidf_blend_topk(spark: SparkSession, term_doc_tf: DataFrame,
                     term_stats: DataFrame,
                     queries: tuple[Query, ...],
                     stem: bool = True,
                     round_scores: int = 6) -> DataFrame:
    """Reference scoring: thresholded TF-IDF + constant-PageRank blend.

    Returns (query_id, rank, doc_id, score) where score is the blended
    ``0.15*0.15 + 0.85*tfidf``. The threshold compares the ROUNDED tfidf so
    the inclusion set is engine-invariant under float association noise
    (same discipline as bm25.py's rounded ranking). The blend itself is NOT
    re-rounded: 0.85 x a 6-dp value puts the 7th decimal exactly on 5 for
    ~5% of rows, and engines break that tie differently (Spark HALF_UP on
    the shortest decimal repr vs C round on the double) — whereas the bare
    IEEE multiply-add of identical doubles is bit-deterministic everywhere.
    """
    qrows = analyzed_query_terms(queries, stem=stem)
    if not qrows:
        qrows = [("__none__", "__none__", 0)]
    qterms = spark.createDataFrame(qrows, "query_id string, term string, k int")
    term_list = sorted({t for _, t, _ in qrows})
    pruned = term_doc_tf.where(term_in(term_list))
    sel = (pruned.join(F.broadcast(qterms), "term")
           .join(F.broadcast(term_stats.where(term_in(term_list))),
                 "term"))
    contrib = ((F.lit(1.0) + F.log10(F.col("tf")))
               * F.log10(F.lit(1.0) + F.lit(float(N_EST)) / F.col("df")))
    scored = (sel.withColumn("c", contrib)
              .groupBy("query_id", "k", "doc_id")
              .agg(F.round(F.sum("c"), round_scores).alias("tfidf"))
              .where(F.col("tfidf") > F.lit(THRESHOLD)))
    blended = (F.lit(PR_CONST) * F.lit(PR_CONST)
               + F.lit(TFIDF_WEIGHT) * F.col("tfidf"))
    scored = scored.withColumn("score", blended)
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               F.col("doc_id").asc())
    out = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= F.least(F.col("k"), F.lit(RESULT_CAP))))
    return out.select("query_id", "rank", "doc_id", "score")


def title_terms_df(docs: DataFrame, stem: bool = True) -> DataFrame:
    """Analyzed DISTINCT (doc_id, term) of the title analogue role+' '+tool."""
    titled = docs.select(
        "doc_id", F.concat_ws(" ", "role", "tool").alias("_title"))
    return (term_tokens_df(titled, "_title", keep_cols=("doc_id",), stem=stem)
            .distinct())


def rerank_by_matches(spark: SparkSession, topk: DataFrame,
                      term_doc_tf: DataFrame, docs: DataFrame,
                      queries: tuple[Query, ...],
                      stem: bool = True) -> DataFrame:
    """Secondary re-rank (Searcher.java:275-307): bucket the top-k by
    (title matches DESC, body matches DESC), keep score order in-bucket.

    Returns (query_id, rank, doc_id, score, title_matches, body_matches)
    with ``rank`` re-assigned post-re-rank.
    """
    qrows = analyzed_query_terms(queries, stem=stem)
    qterms = F.broadcast(spark.createDataFrame(
        [(q, t) for q, t, _ in qrows], "query_id string, term string"))
    hits = topk.select("query_id", "doc_id")

    body = (hits.join(qterms, "query_id")
            .join(term_doc_tf.select("term", "doc_id"), ["term", "doc_id"])
            .groupBy("query_id", "doc_id")
            .agg(F.countDistinct("term").cast("int").alias("body_matches")))
    title = (hits.join(qterms, "query_id")
             .join(title_terms_df(docs, stem=stem), ["term", "doc_id"])
             .groupBy("query_id", "doc_id")
             .agg(F.countDistinct("term").cast("int").alias("title_matches")))

    out = (topk.join(body, ["query_id", "doc_id"], "left")
           .join(title, ["query_id", "doc_id"], "left")
           .na.fill({"body_matches": 0, "title_matches": 0}))
    w = Window.partitionBy("query_id").orderBy(
        F.col("title_matches").desc(), F.col("body_matches").desc(),
        F.col("score").desc(), F.col("doc_id").asc())
    return (out.withColumn("rank", F.row_number().over(w))
            .select("query_id", "rank", "doc_id", "score",
                    "title_matches", "body_matches"))


def tfidf_rerank_topk(spark: SparkSession, term_doc_tf: DataFrame,
                      term_stats: DataFrame, docs: DataFrame,
                      queries: tuple[Query, ...] = RERANK_QUERY_SET,
                      stem: bool = True) -> DataFrame:
    """Full Searcher result pipeline: blend -> threshold -> cap -> re-rank."""
    topk = tfidf_blend_topk(spark, term_doc_tf, term_stats, queries, stem=stem)
    return rerank_by_matches(spark, topk, term_doc_tf, docs, queries,
                             stem=stem)
