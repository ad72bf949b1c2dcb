"""DuckDB oracle SQL builders for the correctness gate.

Every oracle reproduces, in DuckDB's dialect, the exact semantics of the
corresponding Spark query over the same parquet tables (pre-registered views
``documents`` etc.). Two deliberate facts:

* DuckDB in this sandbox cannot load its fts extension (no network), so the
  Porter-stem step cannot run natively. Stemmed-pipeline oracles therefore
  inline a token->stem dictionary over the *fixed* sf documents vocabulary
  (31 words, identical across sf0.001/0.01/0.1). The dictionary values come
  from our stemmer, whose parity with the reference's Java stemmer is
  independently proven by `tests/test_porter.py` against goldens generated
  by the compiled reference class. Everything else in the stemmed oracles —
  derivation, docID assignment, tokenization, filters, TF/DF/DL, BM25 math,
  ranking — is computed independently by DuckDB.
* Each stemmed query has a ``*_nostem`` sibling whose oracle is 100%
  DuckDB-native (no dictionary), closing the loop on the full pipeline.
"""

from __future__ import annotations

from .functions.analyzer import MAX_WORD_LEN, STOP_WORDS, analyze
from .functions.porter import porter_stem
from .query.bm25 import (AND_QUERY_SET, DEFAULT_QUERY_SET, K1, B, Query,
                         analyzed_query_terms)
from .query.phrase import PHRASE_QUERY_SET, phrase_terms
from .query.tfidf import (N_EST, PR_CONST, RERANK_QUERY_SET, RESULT_CAP,
                          TFIDF_WEIGHT, THRESHOLD)
from .sources.transcripts import derive_sql

# The fixed vocabulary of the driver-generated documents tables (verified
# identical across all sf dirs).
DOCUMENTS_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)


# Fixed vocabulary of the transcript derivation's role/tool columns (the
# "title" analogue in the Searcher re-rank) — sources/transcripts.py ROLES +
# TOOLS. Inlined into the same stem dictionary as DOCUMENTS_VOCAB.
TITLE_VOCAB = ("user", "assistant", "system", "tool", "search", "calc",
               "browse")


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def stop_list_sql() -> str:
    return ", ".join(_sql_str(w) for w in sorted(STOP_WORDS))


def stem_map_values() -> str:
    rows = []
    for tok in sorted(set(DOCUMENTS_VOCAB) | set(TITLE_VOCAB)):
        stem = porter_stem(tok)
        if len(stem) > MAX_WORD_LEN:
            stem = stem[-MAX_WORD_LEN:]
        rows.append(f"({_sql_str(tok)}, {_sql_str(stem)})")
    return ", ".join(rows)


def transcripts_cte() -> str:
    return derive_sql("documents", "duckdb")


def analyzed_terms_ctes(stem: bool) -> str:
    """CTE chain ``docs`` (doc_id/conv_id/turn_idx/text...) and ``sel``
    (doc_id, term) implementing the full analyzer."""
    stop = stop_list_sql()
    stem_cte = f"stem_map(tok, stem) AS (VALUES {stem_map_values()}),\n" if stem else ""
    if stem:
        term_expr = ("coalesce(sm.stem, CASE WHEN length(f.tok) > {m} "
                     "THEN substr(f.tok, length(f.tok) - {m} + 1) ELSE f.tok END)"
                     ).format(m=MAX_WORD_LEN)
        stem_join = "LEFT JOIN stem_map sm ON sm.tok = f.tok"
    else:
        term_expr = "f.tok"
        stem_join = ""
    return f"""
WITH {stem_cte}tr AS ({transcripts_cte()}),
docs AS (
  SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id,
         conv_id, turn_idx, role, text, tool, ts
  FROM tr),
rawtok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(regexp_replace(regexp_replace(lower(text),
                '<[^>]+>', ' ', 'g'), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS tok
  FROM docs),
f AS (
  SELECT doc_id, tok FROM rawtok
  WHERE tok <> '' AND length(tok) <= {MAX_WORD_LEN}
    AND NOT regexp_matches(tok, '[0-9]') AND tok NOT IN ({stop})),
terms AS (SELECT f.doc_id, {term_expr} AS term FROM f {stem_join}),
sel AS (SELECT doc_id, term FROM terms WHERE term NOT IN ({stop}))
"""


def sql_transcripts() -> str:
    return (f"SELECT conv_id, turn_idx, role, text, tool, "
            f"CAST(epoch(ts) AS BIGINT) AS ts_epoch FROM ({transcripts_cte()})")


def sql_docs(stem: bool = True) -> str:
    return analyzed_terms_ctes(stem) + """
, dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM sel GROUP BY doc_id)
SELECT d.doc_id, d.conv_id, d.turn_idx, CAST(coalesce(dl.dl, 0) AS BIGINT) AS dl
FROM docs d LEFT JOIN dl USING (doc_id)"""


def sql_term_doc_tf(stem: bool = True) -> str:
    return analyzed_terms_ctes(stem) + """
SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM sel GROUP BY term, doc_id"""


def sql_term_doc_tf_dl(stem: bool = True) -> str:
    """(term, doc_id, tf, dl) — used to oracle the packed-index round-trip."""
    return analyzed_terms_ctes(stem) + """
, tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM sel GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1)
SELECT term, tf.doc_id, tf, dl FROM tf JOIN dl USING (doc_id)"""


def sql_index_lineage(shard_span: int = 128, stem: bool = True) -> str:
    """Deterministic columns of the staged build's per-shard lineage rows
    (plans/pipeline.py:_lineage_from_packed): shard id = doc_id DIV span,
    term range, and posting count; bytes/wall_ms are run-dependent and
    excluded."""
    return analyzed_terms_ctes(stem) + f"""
, tf AS (SELECT term, doc_id FROM sel GROUP BY term, doc_id)
SELECT CAST(doc_id // {shard_span} AS INT) AS shard_id,
       min(term) AS term_lo, max(term) AS term_hi,
       CAST(count(*) AS BIGINT) AS doc_count
FROM tf GROUP BY 1"""


def sql_term_stats(stem: bool = True) -> str:
    return analyzed_terms_ctes(stem) + """
, tf AS (SELECT term, doc_id FROM sel GROUP BY term, doc_id)
SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term"""


def sql_doc_stats(stem: bool = True) -> str:
    return analyzed_terms_ctes(stem) + """
, dl AS (SELECT doc_id, count(*) AS dl FROM sel GROUP BY doc_id)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(coalesce(dl.dl, 0)), 9) AS avgdl
FROM docs d LEFT JOIN dl USING (doc_id)"""


def sql_bm25_topk_hydrated(stem: bool = True) -> str:
    """BM25 top-k joined back to the doc store (Searcher.java:253-273)."""
    inner = sql_bm25_topk(stem=stem)
    docs_cte = analyzed_terms_ctes(stem).split("rawtok AS")[0].rstrip().rstrip(",")
    return f"""{docs_cte}
SELECT r.query_id, r.rank, r.doc_id, r.score,
       d.conv_id, d.turn_idx, d.role, substr(d.text, 1, 80) AS snippet
FROM ({inner}) r JOIN docs d ON d.doc_id = r.doc_id"""


def sql_doc_keywords(stem: bool = True, topn: int = 5) -> str:
    # mirrors textstats.doc_keywords: tf * ln(N/df) rounded to 6dp before
    # ranking, ties by term asc
    return analyzed_terms_ctes(stem) + f"""
, tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM sel GROUP BY 1, 2),
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM docs),
kw AS (SELECT tf.doc_id, tf.term,
              round(tf.tf * ln(n.n_docs / ts.df), 6) AS tfidf
       FROM tf JOIN tstats ts USING (term) CROSS JOIN n),
ranked AS (SELECT doc_id, term, tfidf,
                  CAST(row_number() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, term ASC) AS INT) AS rank
           FROM kw)
SELECT doc_id, rank, term, tfidf FROM ranked WHERE rank <= {topn}"""


def sql_related_terms(stem: bool = True, topn: int = 5,
                      min_pairs: int = 2) -> str:
    # mirrors textstats.related_terms over the doc_keywords output
    return analyzed_terms_ctes(stem) + f"""
, tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM sel GROUP BY 1, 2),
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM docs),
kwr AS (SELECT tf.doc_id, tf.term,
               row_number() OVER (PARTITION BY tf.doc_id
                   ORDER BY round(tf.tf * ln(n.n_docs / ts.df), 6) DESC,
                            tf.term ASC) AS rk
        FROM tf JOIN tstats ts USING (term) CROSS JOIN n),
kw AS (SELECT doc_id, term FROM kwr WHERE rk <= {topn}),
pc AS (SELECT a.term AS term_a, b.term AS term_b,
              CAST(count(*) AS BIGINT) AS n_ab
       FROM kw a JOIN kw b ON a.doc_id = b.doc_id AND a.term < b.term
       GROUP BY 1, 2 HAVING count(*) >= {min_pairs}),
tc AS (SELECT term, CAST(count(*) AS BIGINT) AS n_t FROM kw GROUP BY 1)
SELECT pc.term_a, pc.term_b, pc.n_ab,
       round(ln(pc.n_ab * (SELECT n_docs FROM n)
                / (ta.n_t * tb.n_t)), 6) AS pmi
FROM pc JOIN tc ta ON ta.term = pc.term_a
        JOIN tc tb ON tb.term = pc.term_b"""


def sql_bm25_collapsed(stem: bool = True, topn: int = 10) -> str:
    """Field collapsing over the hydrated top-k: best-ranked turn per
    conversation, conversations re-ranked by that turn's rank."""
    inner = sql_bm25_topk_hydrated(stem=stem)
    return f"""
WITH h AS ({inner}),
best AS (SELECT query_id, rank, conv_id, doc_id, score,
                row_number() OVER (PARTITION BY query_id, conv_id
                                   ORDER BY rank) AS rn
         FROM h),
ranked AS (SELECT query_id, conv_id, doc_id, score,
                  CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY rank) AS INT) AS conv_rank
           FROM best WHERE rn = 1)
SELECT query_id, conv_rank, conv_id, doc_id, score
FROM ranked WHERE conv_rank <= {topn}"""


def sql_term_suggestions(stem: bool = True, prefix: str = "s",
                         limit: int = 20) -> str:
    return analyzed_terms_ctes(stem) + f"""
, tf AS (SELECT term, doc_id FROM sel GROUP BY term, doc_id),
ts AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
SELECT term, df FROM ts WHERE term LIKE '{prefix}%'
ORDER BY df DESC, term ASC LIMIT {limit}"""


def qterms_values(queries: tuple[Query, ...] = DEFAULT_QUERY_SET,
                  stem: bool = True) -> str:
    rows = analyzed_query_terms(queries, stem=stem)
    if not rows:
        rows = [("__none__", "__none__", 0)]
    return ", ".join(f"({_sql_str(q)}, {_sql_str(t)}, {k})" for q, t, k in rows)


def sql_bm25_topk(stem: bool = True,
                  queries: tuple[Query, ...] = DEFAULT_QUERY_SET,
                  doc_filter_sql: str | None = None,
                  purge_where: str | None = None) -> str:
    # doc_filter_sql (e.g. "fd.role = 'user'") mirrors wand_topk's
    # allowed_docs mask: results restricted to the filtered docs, corpus
    # stats (idf/avgdl) stay global.
    # purge_where (e.g. "doc_id % 13 <> 0") instead removes the docs from
    # the CORPUS itself — tf, df, n_docs and avgdl are all computed over
    # the survivors, mirroring a physical `StagedIndexBuild.purge()`
    # (survivors' own dl is unchanged: a doc's length never depends on
    # other docs).
    fd_join = (f"JOIN docs fd ON fd.doc_id = tf.doc_id AND ({doc_filter_sql})"
               if doc_filter_sql else "")
    pw_sel = f" WHERE {purge_where}" if purge_where else ""
    return analyzed_terms_ctes(stem) + f"""
, tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM sel{pw_sel} GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
stats AS (
  SELECT (SELECT count(*) FROM docs{pw_sel}) AS n_docs,
         (SELECT avg(coalesce(dl.dl, 0))
          FROM docs d LEFT JOIN dl USING (doc_id){pw_sel}) AS avgdl),
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
qterms(query_id, term, k) AS (VALUES {qterms_values(queries, stem)}),
contrib AS (
  SELECT q.query_id, q.k, tf.doc_id,
         ln(1.0 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5))
         * tf.tf * ({K1} + 1.0)
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / s.avgdl)) AS c
  FROM qterms q
  JOIN tf ON tf.term = q.term
  JOIN tstats ts ON ts.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  {fd_join}
  CROSS JOIN stats s),
scores AS (SELECT query_id, k, doc_id, round(sum(c), 6) AS score
           FROM contrib GROUP BY 1, 2, 3),
ranked AS (
  SELECT query_id, doc_id, score, k,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scores)
SELECT query_id, rank, doc_id, score
FROM ranked WHERE rank <= k"""


def sql_bm25_topk_proximity(stem: bool = True,
                            queries: tuple[Query, ...] = DEFAULT_QUERY_SET,
                            w: float = 1.0) -> str:
    """Oracle of the packed proximity kernel
    (query/proximity.py::wand_topk_proximity): BM25 + w * sum over
    unordered query-term pairs of 1/(1 + min |pos_a - pos_b|).
    Composes the analyzer chain with the positional chain (CTE names are
    disjoint by construction) and LEFT-joins the bonus so single-term
    matches keep OR semantics with bonus 0."""
    pos_tail = _positions_ctes(stem).split("rawl AS", 1)[1]
    return analyzed_terms_ctes(stem) + f""", rawl AS {pos_tail},
tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM sel GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
stats AS (
  SELECT (SELECT count(*) FROM docs) AS n_docs,
         (SELECT avg(coalesce(dl.dl, 0))
          FROM docs d LEFT JOIN dl USING (doc_id)) AS avgdl),
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
qterms(query_id, term, k) AS (VALUES {qterms_values(queries, stem)}),
contrib AS (
  SELECT q.query_id, q.k, tf.doc_id,
         ln(1.0 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5))
         * tf.tf * ({K1} + 1.0)
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / s.avgdl)) AS c
  FROM qterms q
  JOIN tf ON tf.term = q.term
  JOIN tstats ts ON ts.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s),
scores0 AS (SELECT query_id, k, doc_id, sum(c) AS raw
            FROM contrib GROUP BY 1, 2, 3),
qpos AS (SELECT q.query_id, sq.doc_id, sq.term, sq.pos
         FROM qterms q JOIN seq sq ON sq.term = q.term),
pairmin AS (
  SELECT a.query_id, a.doc_id, a.term AS t1, b.term AS t2,
         min(abs(a.pos - b.pos)) AS d
  FROM qpos a JOIN qpos b
    ON b.query_id = a.query_id AND b.doc_id = a.doc_id AND a.term < b.term
  GROUP BY 1, 2, 3, 4),
bonus AS (SELECT query_id, doc_id, sum(1.0 / (1 + d)) AS bns
          FROM pairmin GROUP BY 1, 2),
scores AS (
  SELECT s.query_id, s.k, s.doc_id,
         round(s.raw + {w} * coalesce(b.bns, 0), 6) AS score
  FROM scores0 s LEFT JOIN bonus b
    ON b.query_id = s.query_id AND b.doc_id = s.doc_id),
ranked AS (
  SELECT query_id, doc_id, score, k,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scores)
SELECT query_id, rank, doc_id, score
FROM ranked WHERE rank <= k"""


def sql_bm25_topk_conjunctive(stem: bool = True,
                              queries: tuple[Query, ...] = AND_QUERY_SET) -> str:
    """AND semantics: doc must contain every analyzed query term. Oracle
    of the packed intersection kernel
    (query/wand.py::wand_topk(conjunctive=True))."""
    return analyzed_terms_ctes(stem) + f"""
, tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM sel GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
stats AS (
  SELECT (SELECT count(*) FROM docs) AS n_docs,
         (SELECT avg(coalesce(dl.dl, 0))
          FROM docs d LEFT JOIN dl USING (doc_id)) AS avgdl),
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
qterms(query_id, term, k) AS (VALUES {qterms_values(queries, stem)}),
qn AS (SELECT query_id, count(*) AS nterms FROM qterms GROUP BY 1),
contrib AS (
  SELECT q.query_id, q.k, tf.doc_id,
         ln(1.0 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5))
         * tf.tf * ({K1} + 1.0)
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / s.avgdl)) AS c
  FROM qterms q
  JOIN tf ON tf.term = q.term
  JOIN tstats ts ON ts.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s),
scores AS (SELECT query_id, k, doc_id, round(sum(c), 6) AS score,
                  count(*) AS nhit
           FROM contrib GROUP BY 1, 2, 3),
ranked AS (
  SELECT sc.query_id, sc.doc_id, sc.score, sc.k,
         CAST(row_number() OVER (PARTITION BY sc.query_id
              ORDER BY sc.score DESC, sc.doc_id ASC) AS INT) AS rank
  FROM scores sc JOIN qn ON qn.query_id = sc.query_id
  WHERE sc.nhit = qn.nterms)
SELECT query_id, rank, doc_id, score
FROM ranked WHERE rank <= k"""


# ---------------------------------------------------------------------------
# Positional index + phrase search (query/phrase.py)
# ---------------------------------------------------------------------------

def _positions_ctes(stem: bool) -> str:
    """CTE chain ending in ``seq(doc_id, term, pos)`` — the positional index
    (pos over the post-analyzer term sequence, per analyzer semantics)."""
    head = analyzed_terms_ctes(stem).split("rawtok AS")[0].rstrip().rstrip(",")
    stop = stop_list_sql()
    if stem:
        term_expr = ("coalesce(psm.stem, CASE WHEN length(fp.tok) > {m} "
                     "THEN substr(fp.tok, length(fp.tok) - {m} + 1) "
                     "ELSE fp.tok END)").format(m=MAX_WORD_LEN)
        stem_join = "LEFT JOIN stem_map psm ON psm.tok = fp.tok"
    else:
        term_expr, stem_join = "fp.tok", ""
    return f"""{head},
rawl AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(regexp_replace(lower(text),
                '<[^>]+>', ' ', 'g'), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS toks
  FROM docs),
rawtokp AS (SELECT doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS rpos FROM rawl),
fp AS (
  SELECT doc_id, tok, rpos FROM rawtokp
  WHERE tok <> '' AND length(tok) <= {MAX_WORD_LEN}
    AND NOT regexp_matches(tok, '[0-9]') AND tok NOT IN ({stop})),
termp AS (SELECT fp.doc_id, {term_expr} AS term, fp.rpos FROM fp {stem_join}),
selp AS (SELECT doc_id, term, rpos FROM termp WHERE term NOT IN ({stop})),
seq AS (
  SELECT doc_id, term,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY rpos) - 1
              AS INT) AS pos
  FROM selp)"""


def sql_term_positions(stem: bool = True) -> str:
    return _positions_ctes(stem) + "\nSELECT doc_id, term, pos FROM seq"


def sql_text_bigrams(stem: bool = True, topn: int = 50) -> str:
    """Top-N adjacent-term bigrams, formulated as the positional
    self-join (seq a JOIN seq b ON same doc, pos+1) — deliberately a
    DIFFERENT algorithm from the engine's fused shifted-array pass, so
    the hash match checks the semantics, not the implementation."""
    return _positions_ctes(stem) + f""",
big AS (
  SELECT a.term AS t1, b.term AS t2, CAST(count(*) AS BIGINT) AS cnt
  FROM seq a JOIN seq b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2),
ranked AS (
  SELECT t1, t2, cnt, CAST(row_number() OVER (
      ORDER BY cnt DESC, t1 ASC, t2 ASC) AS INT) AS rank FROM big)
SELECT rank, t1, t2, cnt FROM ranked WHERE rank <= {topn}"""


def sql_phrase_match(stem: bool = True,
                     queries: tuple = PHRASE_QUERY_SET) -> str:
    """Phrase occurrences per doc, ranked n_occ desc, doc_id asc: oracle
    of the packed phrase kernel (query/phrase.py::phrase_match_packed)."""
    qrows = phrase_terms(queries, stem=stem)
    qpos = ", ".join(f"({_sql_str(q)}, {i}, {_sql_str(t)})"
                     for q, i, t in qrows)
    counts: dict[str, int] = {}
    for q, _, _ in qrows:
        counts[q] = counts.get(q, 0) + 1
    qn = ", ".join(f"({_sql_str(q.query_id)}, {counts[q.query_id]}, {q.k})"
                   for q in queries if q.query_id in counts)
    return _positions_ctes(stem) + f""",
qpos(query_id, i, term) AS (VALUES {qpos}),
qn(query_id, n, k) AS (VALUES {qn}),
adj AS (
  SELECT q.query_id, s.doc_id, s.pos - q.i AS anchor, q.i
  FROM seq s JOIN qpos q ON q.term = s.term),
anchors AS (
  SELECT query_id, doc_id, anchor, count(DISTINCT i) AS nh
  FROM adj GROUP BY 1, 2, 3),
occ AS (
  SELECT a.query_id, qn.k, a.doc_id, CAST(count(*) AS BIGINT) AS n_occ
  FROM anchors a JOIN qn ON qn.query_id = a.query_id
  WHERE a.nh = qn.n GROUP BY 1, 2, 3),
ranked AS (
  SELECT query_id, doc_id, n_occ, k,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY n_occ DESC, doc_id ASC) AS INT) AS rank
  FROM occ)
SELECT query_id, rank, doc_id, n_occ FROM ranked WHERE rank <= k"""


# ---------------------------------------------------------------------------
# Reference Searcher scoring (TF-IDF threshold + constant-PageRank blend +
# title/body match re-rank) — see query/tfidf.py for the semantics citations.
# ---------------------------------------------------------------------------

def _tfidf_blend_ctes(stem: bool, queries: tuple[Query, ...]) -> str:
    """CTE chain ending in ``topk(query_id, k, doc_id, score)`` — the blended
    thresholded capped result set, pre-re-rank."""
    return analyzed_terms_ctes(stem) + f"""
, tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM sel GROUP BY 1, 2),
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
qterms(query_id, term, k) AS (VALUES {qterms_values(queries, stem)}),
contrib AS (
  SELECT q.query_id, q.k, tf.doc_id,
         (1.0 + log10(tf.tf)) * log10(1.0 + {float(N_EST)} / ts.df) AS c
  FROM qterms q
  JOIN tf ON tf.term = q.term
  JOIN tstats ts ON ts.term = q.term),
tfidf_scores AS (SELECT query_id, k, doc_id, round(sum(c), 6) AS tfidf
                 FROM contrib GROUP BY 1, 2, 3),
blended AS (
  SELECT query_id, k, doc_id,
         CAST({PR_CONST} AS DOUBLE) * CAST({PR_CONST} AS DOUBLE)
         + CAST({TFIDF_WEIGHT} AS DOUBLE) * tfidf AS score
  FROM tfidf_scores WHERE tfidf > {THRESHOLD}),
blend_ranked AS (
  SELECT query_id, k, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM blended),
topk AS (SELECT query_id, k, doc_id, score, rank FROM blend_ranked
         WHERE rank <= least(k, {RESULT_CAP}))"""


def sql_tfidf_blend_topk(stem: bool = True,
                         queries: tuple[Query, ...] = DEFAULT_QUERY_SET) -> str:
    return (_tfidf_blend_ctes(stem, queries)
            + "\nSELECT query_id, rank, doc_id, score FROM topk")


def sql_tfidf_rerank_topk(stem: bool = True,
                          queries: tuple[Query, ...] = RERANK_QUERY_SET) -> str:
    """Searcher.java:275-307 bucketing: order by (title matches DESC, body
    matches DESC), score order in-bucket, deterministic doc_id tie-break.
    Title analogue = role + ' ' + tool, analyzed with the shared chain."""
    stop = stop_list_sql()
    if stem:
        t_expr = ("coalesce(tsm.stem, CASE WHEN length(tft.tok) > {m} "
                  "THEN substr(tft.tok, length(tft.tok) - {m} + 1) "
                  "ELSE tft.tok END)").format(m=MAX_WORD_LEN)
        t_join = "LEFT JOIN stem_map tsm ON tsm.tok = tft.tok"
    else:
        t_expr, t_join = "tft.tok", ""
    return _tfidf_blend_ctes(stem, queries) + f""",
title_tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(regexp_replace(regexp_replace(
                lower(concat_ws(' ', role, tool)),
                '<[^>]+>', ' ', 'g'), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS tok
  FROM docs),
tft AS (
  SELECT doc_id, tok FROM title_tok
  WHERE tok <> '' AND length(tok) <= {MAX_WORD_LEN}
    AND NOT regexp_matches(tok, '[0-9]') AND tok NOT IN ({stop})),
title_sel AS (
  SELECT DISTINCT doc_id, term FROM
  (SELECT tft.doc_id, {t_expr} AS term FROM tft {t_join})
  WHERE term NOT IN ({stop})),
body_m AS (
  SELECT t.query_id, t.doc_id,
         CAST(count(DISTINCT q.term) AS INT) AS body_matches
  FROM topk t
  JOIN qterms q ON q.query_id = t.query_id
  JOIN tf ON tf.term = q.term AND tf.doc_id = t.doc_id
  GROUP BY 1, 2),
title_m AS (
  SELECT t.query_id, t.doc_id,
         CAST(count(DISTINCT q.term) AS INT) AS title_matches
  FROM topk t
  JOIN qterms q ON q.query_id = t.query_id
  JOIN title_sel ts ON ts.term = q.term AND ts.doc_id = t.doc_id
  GROUP BY 1, 2),
final AS (
  SELECT t.query_id, t.doc_id, t.score,
         coalesce(tm.title_matches, 0) AS title_matches,
         coalesce(bm.body_matches, 0) AS body_matches
  FROM topk t
  LEFT JOIN title_m tm ON tm.query_id = t.query_id AND tm.doc_id = t.doc_id
  LEFT JOIN body_m bm ON bm.query_id = t.query_id AND bm.doc_id = t.doc_id)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY title_matches DESC, body_matches DESC,
                     score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, score, title_matches, body_matches
FROM final"""


def sql_span_near_match(stem: bool = True,
                        queries: tuple = None,
                        window: int = 8) -> str:
    """Mirror of query/span.py::span_near_match — per doc the MINIMUM of
    max-min over one position per distinct query term, computed by brute
    force over the per-doc position cross product (an m-way doc join of
    the seq CTE; the engine's sorted-merge sliding window must agree),
    match iff min_span < window, rank (min_span ASC, doc_id ASC)."""
    from .query.span import SPAN_QUERY_SET
    if queries is None:
        queries = SPAN_QUERY_SET
    parts = []
    for q in queries:
        uniq = sorted(set(analyze(q.text, stem=stem)))
        if not uniq:
            continue
        qid = _sql_str(q.query_id)
        if len(uniq) == 1:
            parts.append(
                f"SELECT {qid} AS query_id, {q.k} AS k, doc_id, "
                f"CAST(0 AS BIGINT) AS min_span FROM (SELECT DISTINCT "
                f"doc_id FROM seq WHERE term = {_sql_str(uniq[0])})")
            continue
        joins = (f"(SELECT doc_id, pos AS p0 FROM seq "
                 f"WHERE term = {_sql_str(uniq[0])}) s0")
        for i, t in enumerate(uniq[1:], start=1):
            joins += (f" JOIN (SELECT doc_id, pos AS p{i} FROM seq "
                      f"WHERE term = {_sql_str(t)}) s{i} USING (doc_id)")
        ps = ", ".join(f"p{i}" for i in range(len(uniq)))
        parts.append(
            f"SELECT {qid} AS query_id, {q.k} AS k, doc_id, "
            f"CAST(min(greatest({ps}) - least({ps})) AS BIGINT) "
            f"AS min_span FROM {joins} GROUP BY doc_id")
    if not parts:
        return ("SELECT CAST(NULL AS VARCHAR) AS query_id, "
                "CAST(NULL AS INT) AS rank, CAST(NULL AS BIGINT) AS doc_id, "
                "CAST(NULL AS BIGINT) AS min_span WHERE FALSE")
    return _positions_ctes(stem) + f""",
spans AS ({' UNION ALL '.join(parts)}),
ranked AS (
  SELECT query_id, doc_id, min_span, k,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY min_span ASC, doc_id ASC) AS INT) AS rank
  FROM spans WHERE min_span < {int(window)})
SELECT query_id, rank, doc_id, min_span FROM ranked WHERE rank <= k"""
