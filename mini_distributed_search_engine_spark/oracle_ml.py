"""DuckDB oracles for the training-data-pipeline operators
(dedup / similarity / text analysis).

Cross-engine portability contracts (mirrored by functions/dedup.py etc.):
  * md5 hex is identical in Spark and DuckDB.
  * 32-bit hash: Spark conv(substr(md5(x),1,8),16,10) == DuckDB
    ('0x'||substr(md5(x),1,8))::BIGINT.
  * cosine/dot sums are rounded to 6dp BEFORE any rank/sign decision.
  * LSH hyperplanes are +/-1 literals generated in Python from md5 bits and
    embedded in both plans.
"""

from __future__ import annotations

from .functions.dedup import BANDS, NUM_HASHES, SIMHASH_BITS
from .functions.similarity import hyperplanes
from .functions.textstats import LANG_MARKERS

_NORM = ("string_split_regex(trim(regexp_replace(regexp_replace(lower(text),"
         "'<[^>]+>', ' ', 'g'), '[^a-z0-9]+', ' ', 'g')), '\\s+')")


def _toks_cte(src: str = "documents") -> str:
    return f"""
toks AS (
  SELECT doc_id, unnest({_NORM}) AS tok FROM {src}),
toksf AS (SELECT doc_id, tok FROM toks WHERE tok <> '')"""


def _shingles_cte(k: int = 3, src: str = "documents") -> str:
    return f"""
base AS (SELECT doc_id, {_NORM} AS tk FROM {src}),
pos AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - {k} + 1)) AS i
        FROM base WHERE len(tk) >= {k}),
sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+{k - 1}], ' ') AS shingle
       FROM pos)"""


def sql_stratified_sample(rates: dict[str, int] | None = None,
                          default_pct: int = 50) -> str:
    """Deterministic hash-gate stratified sample over documents — the
    same 32-bit-md5 gate the engine computes, byte-identical in DuckDB."""
    rates = {"src0": 10, "src1": 25} if rates is None else rates
    case = " ".join(f"WHEN '{k}' THEN {p}" for k, p in sorted(rates.items()))
    return f"""
SELECT doc_id, source, lang FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 <
      CASE source {case} ELSE {default_pct} END"""


def sql_topk_per_stratum(k: int = 5) -> str:
    """Exact-k deterministic per-stratum sample — same hash rank."""
    return f"""
WITH h AS (SELECT doc_id, source, lang,
       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
       FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY source
          ORDER BY hv ASC, doc_id ASC) AS rk FROM h)
SELECT doc_id, source, lang FROM r WHERE rk <= {k}"""


def sql_dedup_exact() -> str:
    return """
WITH keyed AS (SELECT doc_id, md5(text) AS h FROM documents),
g AS (SELECT h, min(doc_id) AS canonical_id,
             CAST(count(*) AS BIGINT) AS group_size
      FROM keyed GROUP BY h)
SELECT doc_id, canonical_id, group_size FROM keyed JOIN g USING (h)"""


def sql_minhash_signatures(k: int = 3, num_hashes: int = NUM_HASHES) -> str:
    return f"""
WITH {_shingles_cte(k)},
seeds AS (SELECT unnest(generate_series(0, {num_hashes - 1})) AS seed)
SELECT doc_id, CAST(seed AS INT) AS seed,
       min(md5(seed::VARCHAR || '|' || shingle)) AS minhash
FROM sh CROSS JOIN seeds GROUP BY doc_id, seed"""


def sql_lsh_candidates(k: int = 3, num_hashes: int = NUM_HASHES,
                       bands: int = BANDS) -> str:
    rows = num_hashes // bands
    return f"""
WITH {_shingles_cte(k)},
seeds AS (SELECT unnest(generate_series(0, {num_hashes - 1})) AS seed),
mh AS (SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || shingle)) AS minhash
       FROM sh CROSS JOIN seeds GROUP BY doc_id, seed),
banded AS (
  SELECT doc_id, CAST(seed // {rows} AS INT) AS band,
         md5(string_agg(seed::VARCHAR || ':' || minhash, ','
             ORDER BY seed::VARCHAR || ':' || minhash)) AS bucket
  FROM mh GROUP BY doc_id, band)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id"""


def sql_ngram_jaccard(k: int = 3, threshold: float = 0.5,
                      max_shingle_df: int = 10_000) -> str:
    # mirrors the Spark df-cut: hot shingles are dropped before both the
    # pair join and the per-doc set sizes
    return f"""
WITH {_shingles_cte(k)},
dfq AS (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= {max_shingle_df}),
shf AS (SELECT doc_id, shingle FROM sh JOIN dfq USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(i / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i / (sa.n_sh + sb.n_sh - i), 6) >= {threshold}"""


def sql_decontaminate(k: int = 3, bench_mod: int = 97) -> str:
    """Mirror of functions/dedup.py::decontaminate with the gate's
    deterministic benchmark slice (doc_id % bench_mod == 0)."""
    return f"""
WITH {_shingles_cte(k)},
bench AS (SELECT doc_id AS bench_id, shingle FROM sh
          WHERE doc_id % {bench_mod} = 0),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {bench_mod} <> 0)
SELECT c.doc_id AS doc_id, b.bench_id AS bench_id,
       CAST(count(*) AS BIGINT) AS n_shared
FROM corpus c JOIN bench b USING (shingle)
GROUP BY 1, 2"""


def sql_simhash(bits: int = SIMHASH_BITS) -> str:
    return f"""
WITH {_toks_cte()},
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toksf GROUP BY 1, 2),
h AS (SELECT doc_id, tf, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tf),
bitsum AS (
  SELECT doc_id, j,
         sum(CASE WHEN (h >> j) & 1 = 1 THEN tf ELSE -tf END) AS s
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, {bits - 1})) AS j)
  GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
            AS BIGINT) AS simhash
FROM bitsum GROUP BY doc_id"""


_COS_CTE = """
un AS (SELECT query_vec_id, vec_id,
              unnest(embedding)::DOUBLE AS x, unnest(qe)::DOUBLE AS y
       FROM pairs),
s AS (SELECT query_vec_id, vec_id, sum(x * y) AS dot,
             sum(x * x) AS na, sum(y * y) AS nb
      FROM un GROUP BY 1, 2),
sc AS (SELECT query_vec_id, vec_id,
              round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos FROM s)"""


def sql_cosine_topk(query_ids=(0, 1, 2), k: int = 10) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH q AS (SELECT vec_id AS query_vec_id, embedding AS qe
           FROM embeddings WHERE vec_id IN ({ids})),
pairs AS (SELECT q.query_vec_id, e.vec_id, e.embedding, q.qe
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id <> q.query_vec_id),
{_COS_CTE},
r AS (SELECT query_vec_id, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY query_vec_id
                  ORDER BY cos DESC, vec_id) AS INT) AS rank
      FROM sc)
SELECT query_vec_id, rank, vec_id, cos FROM r WHERE rank <= {k}"""


def _planes_values() -> str:
    rows = []
    for t, planes in enumerate(hyperplanes()):
        for j, plane in enumerate(planes):
            for i, w in enumerate(plane, start=1):
                rows.append(f"({t}, {j}, {i}, {w})")
    return ", ".join(rows)


def sql_lsh_ann_topk(query_ids=(0, 1, 2), k: int = 10) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH planes(t, j, i, w) AS (VALUES {_planes_values()}),
un0 AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
dots AS (SELECT vec_id, t, j, round(sum(x * w), 6) AS dot
         FROM un0 JOIN planes USING (i) GROUP BY 1, 2, 3),
bucketed AS (SELECT vec_id, t,
                    CAST(sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << j)
                             ELSE 0 END) AS BIGINT) AS bucket
             FROM dots GROUP BY 1, 2),
q AS (SELECT b.vec_id AS query_vec_id, e.embedding AS qe,
             b.t AS q_t, b.bucket AS q_bucket
      FROM bucketed b JOIN embeddings e USING (vec_id)
      WHERE b.vec_id IN ({ids})),
pairs AS (SELECT DISTINCT ON (q.query_vec_id, e.vec_id)
                 q.query_vec_id, e.vec_id, e.embedding, q.qe
          FROM embeddings e
          JOIN bucketed be ON be.vec_id = e.vec_id
          JOIN q ON be.t = q.q_t AND be.bucket = q.q_bucket
          WHERE e.vec_id <> q.query_vec_id),
{_COS_CTE},
r AS (SELECT query_vec_id, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY query_vec_id
                  ORDER BY cos DESC, vec_id) AS INT) AS rank
      FROM sc)
SELECT query_vec_id, rank, vec_id, cos FROM r WHERE rank <= {k}"""


def sql_ivf_ann_topk(query_ids=(0, 1, 2), k: int = 10,
                     n_centroids: int = 8, n_probe: int = 2) -> str:
    # mirrors similarity.ivf_ann_topk: centroids = first n_centroids
    # vec_ids; assignment/probe by rounded cosine, ties to smaller centroid
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH cents AS (SELECT vec_id AS centroid_id, embedding AS ce
               FROM embeddings WHERE vec_id < {n_centroids}),
cun AS (SELECT e.vec_id, c.centroid_id,
               unnest(e.embedding)::DOUBLE AS x, unnest(c.ce)::DOUBLE AS y
        FROM embeddings e CROSS JOIN cents c),
cs AS (SELECT vec_id, centroid_id, sum(x * y) AS dot,
              sum(x * x) AS na, sum(y * y) AS nb
       FROM cun GROUP BY 1, 2),
csc AS (SELECT vec_id, centroid_id,
               round(dot / (sqrt(na) * sqrt(nb)), 6) AS ccos FROM cs),
ranked AS (SELECT vec_id, centroid_id, ccos,
                  row_number() OVER (PARTITION BY vec_id
                      ORDER BY ccos DESC, centroid_id) AS rn
           FROM csc),
assigned AS (SELECT vec_id, centroid_id FROM ranked WHERE rn = 1),
probe AS (SELECT vec_id AS query_vec_id, centroid_id
          FROM ranked WHERE rn <= {n_probe} AND vec_id IN ({ids})),
q AS (SELECT vec_id AS query_vec_id, embedding AS qe
      FROM embeddings WHERE vec_id IN ({ids})),
pairs AS (SELECT p.query_vec_id, a.vec_id, e.embedding, q.qe
          FROM probe p
          JOIN assigned a USING (centroid_id)
          JOIN embeddings e ON e.vec_id = a.vec_id
          JOIN q ON q.query_vec_id = p.query_vec_id
          WHERE a.vec_id <> p.query_vec_id),
{_COS_CTE},
r AS (SELECT query_vec_id, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY query_vec_id
                  ORDER BY cos DESC, vec_id) AS INT) AS rank
      FROM sc)
SELECT query_vec_id, rank, vec_id, cos FROM r WHERE rank <= {k}"""


def sql_hybrid_topk(pairs=None, k: int = 10, k_each: int = 20,
                    rrf_k: int = 60, ann: bool = False) -> str:
    # mirrors query/hybrid.py: RRF over the bm25 and cosine rank lists;
    # both legs are the already-verified oracles nested as CTE subqueries.
    # ann=True swaps the exact-cosine leg for the IVF-flat oracle
    # (sql_ivf_ann_topk), mirroring hybrid.hybrid_ann_topk.
    from .oracle import sql_bm25_topk
    from .query.bm25 import Query
    from .query.hybrid import HYBRID_QUERIES
    pairs = pairs or HYBRID_QUERIES
    texts = tuple(Query(qid, text, k=k_each) for qid, text, _ in pairs)
    b_sql = sql_bm25_topk(stem=True, queries=texts)
    leg = sql_ivf_ann_topk if ann else sql_cosine_topk
    c_sql = leg(query_ids=tuple(v for _, _, v in pairs), k=k_each)
    m_vals = ", ".join(f"('{qid}', {v})" for qid, _, v in pairs)
    return f"""
WITH b AS ({b_sql}),
c AS ({c_sql}),
m(query_id, qvec) AS (VALUES {m_vals}),
u AS (SELECT query_id, doc_id, rank FROM b
      UNION ALL
      SELECT m.query_id, c.vec_id AS doc_id, c.rank
      FROM c JOIN m ON m.qvec = c.query_vec_id),
fused AS (SELECT query_id, doc_id,
                 round(sum(1.0 / ({rrf_k} + rank)), 6) AS rrf
          FROM u GROUP BY 1, 2),
ranked AS (SELECT query_id, doc_id, rrf,
                  CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
           FROM fused)
SELECT query_id, rank, doc_id, rrf FROM ranked WHERE rank <= {k}"""


def sql_kmeans_centroids(k: int = 8, iters: int = 3) -> str:
    # mirrors similarity.kmeans_fit: the Lloyd loop unrolled as CTE
    # generations — assignment by rounded cosine (ties to smaller centroid
    # id), update = per-dimension mean rounded to 6dp, empty clusters keep
    # their previous centroid. Output flattened to (centroid_id, dim,
    # value) for stable cross-engine hashing.
    ctes = [f"""cents0 AS (
  SELECT CAST(vec_id AS INT) AS centroid_id,
         list_transform(embedding, x -> x::DOUBLE) AS ce
  FROM embeddings WHERE vec_id < {k})"""]
    for t in range(iters):
        ctes.append(f"""un{t} AS (
  SELECT e.vec_id, c.centroid_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(c.ce) AS y
  FROM embeddings e CROSS JOIN cents{t} c),
cs{t} AS (SELECT vec_id, centroid_id, sum(x * y) AS dot,
                 sum(x * x) AS na, sum(y * y) AS nb
          FROM un{t} GROUP BY 1, 2),
rk{t} AS (SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                     ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 6) DESC,
                              centroid_id) AS rn
          FROM cs{t}),
ux{t} AS (SELECT a.centroid_id, unnest(e.embedding)::DOUBLE AS x,
                 generate_subscripts(e.embedding, 1) AS i
          FROM rk{t} a JOIN embeddings e USING (vec_id) WHERE a.rn = 1),
mm{t} AS (SELECT centroid_id, list(m ORDER BY i) AS me
          FROM (SELECT centroid_id, i, round(avg(x), 6) AS m
                FROM ux{t} GROUP BY 1, 2) GROUP BY 1),
cents{t + 1} AS (SELECT c.centroid_id, coalesce(mm.me, c.ce) AS ce
                 FROM cents{t} c LEFT JOIN mm{t} mm USING (centroid_id))""")
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT CAST(centroid_id AS INT) AS centroid_id,
       CAST(generate_subscripts(ce, 1) - 1 AS INT) AS dim,
       unnest(ce) AS value
FROM cents{iters}"""


def sql_embedding_near_dup(threshold: float = 0.4) -> str:
    return f"""
WITH pairs AS (SELECT a.vec_id AS query_vec_id, b.vec_id AS vec_id,
                      a.embedding AS qe, b.embedding
               FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
{_COS_CTE}
SELECT query_vec_id AS vec_a, vec_id AS vec_b, cos
FROM sc WHERE cos >= {threshold}"""


def sql_embedding_near_dup_lsh(threshold: float = 0.4) -> str:
    return f"""
WITH planes(t, j, i, w) AS (VALUES {_planes_values()}),
un0 AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
dots AS (SELECT vec_id, t, j, round(sum(x * w), 6) AS dot
         FROM un0 JOIN planes USING (i) GROUP BY 1, 2, 3),
bucketed AS (SELECT vec_id, t,
                    CAST(sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << j)
                             ELSE 0 END) AS BIGINT) AS bucket
             FROM dots GROUP BY 1, 2),
cand AS (SELECT DISTINCT a.vec_id AS qv, b.vec_id AS vv
         FROM bucketed a JOIN bucketed b
           ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
pairs AS (SELECT c.qv AS query_vec_id, c.vv AS vec_id,
                 ea.embedding AS qe, eb.embedding
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.qv
          JOIN embeddings eb ON eb.vec_id = c.vv),
{_COS_CTE}
SELECT query_vec_id AS vec_a, vec_id AS vec_b, cos
FROM sc WHERE cos >= {threshold}"""


def sql_dedup_components(threshold: float = 0.4) -> str:
    # mirrors operators/components.py over the LSH near-dup pairs: the
    # label-propagation fixpoint equals min label over the reachability
    # set, which a recursive CTE computes directly
    nd = sql_embedding_near_dup_lsh(threshold)
    return f"""
WITH RECURSIVE nd AS ({nd}),
sym(src, dst) AS (SELECT vec_a, vec_b FROM nd
                  UNION SELECT vec_b, vec_a FROM nd),
reach(node, label) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node)
SELECT node AS vec_id, CAST(min(label) AS BIGINT) AS component
FROM reach GROUP BY node"""


def sql_components_deep_path(chain: int = 128) -> str:
    # deep-diameter fixture: chains of `chain` consecutive vec_ids (edge
    # i -> i+1 unless i+1 starts a new chain) — diameter chain-1, far past
    # the propagation operator's 25-round guard. The reachability fixpoint
    # is the same recursive CTE as sql_dedup_components; UNION-dedup makes
    # the recursion depth the diameter, which DuckDB handles fine here.
    return f"""
WITH RECURSIVE e AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
  WHERE (a.vec_id + 1) % {chain} <> 0),
sym(src, dst) AS (SELECT va, vb FROM e UNION SELECT vb, va FROM e),
reach(node, label) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node)
SELECT node AS vec_id, CAST(min(label) AS BIGINT) AS component
FROM reach GROUP BY node"""


def sql_redact_pii(aug_suffix_sql: str = "") -> str:
    """Mirror of textstats.redact_pii — the IDENTICAL portable regexes
    (Java regex and RE2 agree on every construct used), sequential
    replacement, counts on the original text. ``aug_suffix_sql`` is a SQL
    expression appended to each doc's text (the gate plants deterministic
    PII so the redaction actually fires on the synthetic corpus)."""
    from .functions.textstats import PII_PATTERNS
    text = "coalesce(text, '')" + (f" || {aug_suffix_sql}"
                                   if aug_suffix_sql else "")
    red = "t"
    counts = []
    for name, pat, tok in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
        counts.append(f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT)"
                      f" AS n_{name}")
    return f"""
WITH d AS (SELECT doc_id, {text} AS t FROM documents)
SELECT doc_id, {red} AS text_redacted, {', '.join(counts)} FROM d"""


def sql_repetition_stats() -> str:
    """Mirror of textstats.repetition_stats over the same normalization."""
    return f"""
WITH base AS (SELECT doc_id,
                     list_filter({_NORM}, x -> x <> '') AS tk
              FROM documents),
m AS (SELECT doc_id, tk,
             list_transform(generate_series(1, len(tk) - 1),
                            i -> tk[i] || ' ' || tk[i + 1]) AS bg
      FROM base)
SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
       CASE WHEN len(tk) > 0
            THEN round(1 - 1.0 * len(list_distinct(tk)) / len(tk), 6)
            ELSE 0.0 END AS dup_word_frac,
       CASE WHEN len(bg) > 0
            THEN round(1 - 1.0 * len(list_distinct(bg)) / len(bg), 6)
            ELSE 0.0 END AS dup_bigram_frac
FROM m"""


def sql_token_counts() -> str:
    # same lookahead-free BPE-ish regex as textstats.BPE_TOKEN_RE; RE2 and
    # Java regex agree on leftmost-first alternation for it
    return r"""
WITH d AS (SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents)
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(trim(t), '\s+'),
                            x -> x <> '')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(t, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+'))
            AS BIGINT) AS n_bpe_tokens
FROM d"""


def sql_lang_id() -> str:
    unions = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        lst = ", ".join(f"'{m}'" for m in markers)
        unions.append(
            f"SELECT doc_id, '{lang}' AS lang_pred, CAST(count(*) AS BIGINT) AS hits "
            f"FROM toksf WHERE tok IN ({lst}) GROUP BY doc_id")
    votes = " UNION ALL ".join(unions)
    return f"""
WITH {_toks_cte()},
votes AS ({votes}),
best AS (SELECT doc_id, lang_pred, hits,
                row_number() OVER (PARTITION BY doc_id
                     ORDER BY hits DESC, lang_pred ASC) AS rn
         FROM votes)
SELECT d.doc_id,
       coalesce(b.lang_pred, 'und') AS lang_pred,
       CAST(coalesce(b.hits, 0) AS BIGINT) AS hits
FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)"""


def sql_quality_score() -> str:
    return f"""
WITH {_toks_cte()},
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT tok) AS BIGINT) AS n_uniq,
               avg(length(tok)) AS mean_len
        FROM toksf GROUP BY doc_id)
SELECT doc_id, n_tokens,
       round(n_uniq / n_tokens, 6) AS uniq_ratio,
       round(mean_len, 6) AS mean_tok_len,
       round(least(n_tokens / 50.0, 1.0) * (n_uniq / n_tokens), 6) AS quality
FROM agg"""


def sql_doc_fingerprint(k: int = 3) -> str:
    return f"""
WITH {_shingles_cte(k)}
SELECT doc_id, min(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id"""
