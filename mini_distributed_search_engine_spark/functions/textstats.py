"""Keyword operators over the index's own tables: per-doc top-n
characteristic terms (`doc_keywords`) and PMI related-term discovery
(`related_terms`). Both read `term_doc_tf`/`term_stats`, run JVM-side and
have DuckDB oracles (`oracle.sql_doc_keywords`/`sql_related_terms`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def doc_keywords(term_doc_tf: DataFrame, term_stats: DataFrame,
                 n_docs: int, topn: int = 5) -> DataFrame:
    """(doc_id, rank, term, tfidf): the top-n characteristic terms per doc
    by tf * ln(N/df), rounded to 6dp before ranking (cross-engine rank
    stability), ties broken by term asc — the standard keyword-extraction
    primitive for corpus labeling/tagging. Inputs are the index build's
    own tables, so this costs one df join (AQE broadcasts it while the
    vocabulary fits, shuffles on term beyond that) + a per-doc top-n over
    rows that are already doc-partitioned from the fused TF pass."""
    from pyspark.sql import Window
    idf = F.log(F.lit(float(n_docs)) / F.col("df"))
    scored = (term_doc_tf.join(term_stats, "term")
              .select("doc_id", "term",
                      F.round(F.col("tf") * idf, 6).alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(),
                                             F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= topn)
            .select("doc_id", F.col("rank").cast("int").alias("rank"),
                    "term", "tfidf"))


def related_terms(term_doc_tf: DataFrame, term_stats: DataFrame,
                  n_docs: int, topn: int = 5,
                  min_pairs: int = 2) -> DataFrame:
    """(term_a, term_b, n_ab, pmi): pointwise mutual information over
    co-occurring KEYWORDS — related-term discovery for query expansion /
    taxonomy building. Pairing raw tokens is O(dl^2) per doc and explodes
    at scale; pairing each doc's top-n keywords caps the pair fan-out at
    C(topn,2)=10 rows per doc, so the whole op is two bounded groupBys.
    pmi = ln(n_ab * N / (n_a * n_b)) over keyword-set membership counts,
    rounded to 6dp; pairs ordered term_a < term_b."""
    kw = doc_keywords(term_doc_tf, term_stats, n_docs, topn=topn) \
        .select("doc_id", "term")
    a = kw.select("doc_id", F.col("term").alias("term_a"))
    b = kw.select("doc_id", F.col("term").alias("term_b"))
    pair_counts = (a.join(b, "doc_id")
                   .where(F.col("term_a") < F.col("term_b"))
                   .groupBy("term_a", "term_b")
                   .agg(F.count("*").cast("long").alias("n_ab"))
                   .where(F.col("n_ab") >= min_pairs))
    tc = kw.groupBy("term").agg(F.count("*").cast("long").alias("n_t"))
    return (pair_counts
            .join(tc.withColumnRenamed("term", "term_a")
                    .withColumnRenamed("n_t", "n_a"), "term_a")
            .join(tc.withColumnRenamed("term", "term_b")
                    .withColumnRenamed("n_t", "n_b"), "term_b")
            .select("term_a", "term_b", "n_ab",
                    F.round(F.log(F.col("n_ab") * F.lit(float(n_docs))
                                  / (F.col("n_a") * F.col("n_b"))), 6)
                    .alias("pmi")))
