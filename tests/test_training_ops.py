"""Training-data ops: dedup finds planted duplicates; ANN recall vs brute
force."""

from __future__ import annotations

import pytest

from mini_distributed_search_engine_spark.functions import dedup as D
from mini_distributed_search_engine_spark.functions import similarity as S


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),      # exact dup of 0
        (2, "alpha beta gamma delta epsilon zeta eta NOVEL"),      # near dup of 0
        (3, "completely different words entirely here now folks"),
        (4, "alpha beta gamma delta epsilon zeta eta theta"),      # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark, dup_docs):
    got = {r["doc_id"]: (r["canonical_id"], r["group_size"])
           for r in D.exact_dedup(dup_docs).collect()}
    assert got[0] == (0, 3) and got[1] == (0, 3) and got[4] == (0, 3)
    assert got[2] == (2, 1) and got[3] == (3, 1)


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    sigs = D.minhash_signatures(dup_docs)
    pairs = {(r["doc_a"], r["doc_b"])
             for r in D.lsh_candidate_pairs(sigs).collect()}
    assert (0, 1) in pairs and (0, 4) in pairs and (1, 4) in pairs
    assert (0, 2) in pairs  # near dup shares most shingles -> same band
    assert not any(3 in p for p in pairs)


def test_ngram_jaccard_values(spark, dup_docs):
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in D.ngram_jaccard_pairs(dup_docs, threshold=0.3).collect()}
    assert got[(0, 1)] == 1.0
    assert 0.5 <= got[(0, 2)] < 1.0


def test_simhash_similarity(spark, dup_docs):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash(dup_docs).collect()}
    assert sh[0] == sh[1] == sh[4]
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near < ham_far


def test_lsh_ann_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = {(r["query_vec_id"], r["vec_id"])
             for r in S.cosine_topk(emb, k=10).collect()}
    ann = {(r["query_vec_id"], r["vec_id"])
           for r in S.lsh_ann_topk(emb, k=10).collect()}
    recall = len(brute & ann) / len(brute)
    assert recall >= 0.3, recall  # 4-plane sign LSH, small corpus


def test_ivf_ann_recall_and_pruning(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = {(r["query_vec_id"], r["vec_id"])
             for r in S.cosine_topk(emb, k=10).collect()}
    ivf = S.ivf_ann_topk(emb, k=10).collect()
    ann = {(r["query_vec_id"], r["vec_id"]) for r in ivf}
    recall = len(brute & ann) / len(brute)
    assert recall >= 0.3, recall  # 2-of-8 probed lists, small corpus
    # pruning is real: every candidate came from a probed inverted list,
    # which must cover well under the whole corpus
    assigned = S.ivf_assign(emb)
    n = emb.count()
    sizes = {r["centroid_id"]: r["cnt"] for r in
             assigned.groupBy("centroid_id").count()
             .withColumnRenamed("count", "cnt").collect()}
    assert sum(sizes.values()) == n          # partition of the corpus
    assert max(sizes.values()) < n           # more than one non-empty list


def test_kmeans_recovers_planted_clusters(spark):
    """Lloyd's loop on three well-separated planted clusters: the learned
    centroids must induce exactly the ground-truth partition when plugged
    into ivf_assign(centroids=...)."""
    dim, n = 8, 30
    rows = []
    for i in range(n):
        c = i % 3                      # vec 0,1,2 seed all three clusters
        v = [0.0] * dim
        v[c] = 1.0
        v[3 + c] = 0.05 * ((i * 7) % 5)     # deterministic within-cluster jitter
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.kmeans_fit(emb, k=3, iters=4)
    got = {r["vec_id"]: r["centroid_id"]
           for r in S.ivf_assign(emb, centroids=cents).collect()}
    for i in range(n):
        assert got[i] == got[i % 3], (i, got[i], got[i % 3])
    assert len({got[0], got[1], got[2]}) == 3


def test_near_dup_lsh_recall_and_precision(spark):
    """The bucketed near-dup path must (a) return only TRUE pairs — every
    reported pair appears in brute force with the same cosine (candidates
    are exact-verified, so precision is 1.0 by construction) — and (b)
    recover most high-cosine pairs (sign-LSH collision probability rises
    with cosine, so recall is graded by similarity)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = {(r["vec_a"], r["vec_b"]): r["cos"]
             for r in S.embedding_near_dup_pairs(emb, threshold=0.4).collect()}
    lsh = {(r["vec_a"], r["vec_b"]): r["cos"]
           for r in S.embedding_near_dup_lsh(emb, threshold=0.4).collect()}
    assert lsh, "bucketed path found no pairs at all"
    for pair, cos in lsh.items():
        assert pair in brute and brute[pair] == cos  # exact verification
    hi = {p for p, c in brute.items() if c >= 0.8}
    if hi:
        assert len(hi & set(lsh)) / len(hi) >= 0.5
    assert len(set(lsh) & set(brute)) / len(brute) >= 0.3


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A stop-phrase-like shingle present in EVERY doc must not create
    O(n^2) pairs when it exceeds max_shingle_df: it is cut from both the
    join and the set sizes, so only docs sharing RARE shingles pair up,
    with Jaccard computed over the filtered shingle universe."""
    hot = "the quick brown fox jumps"
    rows = ([(i, f"{hot} unique{i} tail{i} words{i}") for i in range(8)]
            + [(100, f"{hot} shared rare shingle one"),
               (101, f"{hot} shared rare shingle two")])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in D.ngram_jaccard_pairs(
               docs, threshold=0.1, max_shingle_df=5).collect()}
    # every doc shares the hot shingles, but only (100, 101) share rare ones
    assert set(got) == {(100, 101)}
    # filtered universe: each of 100/101 keeps 4 shingles (the three
    # every-doc shingles are cut; 'fox jumps shared', 'jumps shared rare',
    # 'shared rare shingle' have df=2 and are kept, plus one unique tail),
    # intersection 3 -> 3 / (4 + 4 - 3)
    assert got[(100, 101)] == pytest.approx(3 / 5, abs=1e-6)
    # uncapped: the hot shingles pair EVERY doc combination
    uncapped = D.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    assert len(uncapped) == 45


def test_token_counts_literal(spark):
    from mini_distributed_search_engine_spark.functions.textstats import (
        token_counts)
    rows = [(0, "Hello, world! It's 2026."),
            (1, "  one   two  "),
            (2, None),
            (3, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
           for r in token_counts(docs).collect()}
    # "hello, world! it's 2026." -> bpe: [hello][,][ world][!][ it]['][s][ 2026][.]
    assert got[0] == (4, 9)
    assert got[1] == (2, 2)
    assert got[2] == (0, 0)
    assert got[3] == (0, 0)


def test_hybrid_rrf_fusion(spark):
    """RRF fusion: contiguous per-query ranks, and a doc present in both
    candidate lists carries the sum of both reciprocal ranks."""
    import __spark_entry__ as E
    out = E.queries()["hybrid_rrf_topk"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(ranks) + 1)), (q, ranks)
        assert all(r["rrf"] > 0 for r in rs)
    # the fused score is bounded by the two-list maximum 2/(60+1)
    assert all(r["rrf"] <= round(2 / 61, 6) for r in rows)


def test_hybrid_ann_recall_vs_exact(spark):
    """The IVF-leg hybrid must agree with the exact-leg hybrid on most of
    the fused top-k (ANN recall flows through the fusion): per query,
    >= 60% of the exact hybrid's top-10 docs also appear in the ANN
    hybrid's top-10 (the lexical leg is shared code — `hybrid._hybrid` —
    so only the semantic leg can move the fusion)."""
    import __spark_entry__ as E
    qs = E.queries()
    sf = "/root/testdata/sf0.001"
    exact = qs["hybrid_rrf_topk"](spark, sf).collect()
    ann = qs["hybrid_rrf_ann_topk"](spark, sf).collect()
    ex_by_q, an_by_q = {}, {}
    for r in exact:
        ex_by_q.setdefault(r["query_id"], set()).add(r["doc_id"])
    for r in ann:
        an_by_q.setdefault(r["query_id"], set()).add(r["doc_id"])
    assert set(ex_by_q) == set(an_by_q)
    for q in ex_by_q:
        overlap = len(ex_by_q[q] & an_by_q[q]) / len(ex_by_q[q])
        assert overlap >= 0.6, (q, sorted(ex_by_q[q]), sorted(an_by_q[q]))
    # rank sanity on the ANN variant: contiguous per-query ranks
    by_q = {}
    for r in ann:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_decontaminate_shared_shingles_and_broadcast(spark, dup_docs):
    # bench = doc 0; doc 2 shares exactly 5 of its six 3-gram shingles
    # (only "zeta eta novel" differs); doc 3 shares none
    bench = dup_docs.where("doc_id = 0")
    corpus = dup_docs.where("doc_id IN (2, 3)")
    out = D.decontaminate(corpus, bench, k=3)
    rows = {(r["doc_id"], r["bench_id"]): r["n_shared"] for r in out.collect()}
    assert rows == {(2, 0): 5}
    # the benchmark shingle set must hit the corpus via a broadcast join —
    # the corpus-side shingle expansion never shuffles
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_redact_pii_and_repetition_literals(spark):
    from mini_distributed_search_engine_spark.functions.textstats import (
        redact_pii, repetition_stats)
    rows = [(0, "email me at bob@x.co or call 555-123-4567 at 10.0.0.7 ok"),
            (1, "clean text no pii here"),
            (2, "dup dup dup dup")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x["doc_id"]: x for x in redact_pii(docs).collect()}
    assert r[0]["text_redacted"] == \
        "email me at [EMAIL] or call [PHONE] at [IPV4] ok"
    assert (r[0]["n_email"], r[0]["n_phone"], r[0]["n_ipv4"]) == (1, 1, 1)
    assert r[1]["text_redacted"] == rows[1][1]
    assert (r[1]["n_email"], r[1]["n_phone"], r[1]["n_ipv4"]) == (0, 0, 0)
    s = {x["doc_id"]: x for x in repetition_stats(docs).collect()}
    assert s[2]["n_words"] == 4 and s[2]["dup_word_frac"] == 0.75
    assert s[2]["dup_bigram_frac"] == round(1 - 1 / 3, 6)
    assert s[1]["dup_word_frac"] == 0.0 and s[1]["dup_bigram_frac"] == 0.0


def test_ivf_append_only_adds_files(spark, tmp_path):
    """ivf_append_partitioned must leave every pre-existing data file
    untouched (LSM append discipline) and the appended layout must rank
    identically to a one-shot build."""
    import numpy as np
    from pathlib import Path
    rng = np.random.default_rng(9)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)])
         for i in range(120)], "vec_id long, embedding array<float>")
    cents = S._resolve_centroids(emb, S.N_CENTROIDS, None)
    root = str(tmp_path / "ivf_app")
    S.ivf_write_partitioned(
        S.ivf_assign(emb.where("vec_id < 60"), centroids=cents), root)
    before = {p for p in Path(root).rglob("*.parquet")}
    S.ivf_append_partitioned(emb.where("vec_id >= 60"), root,
                             centroids=cents)
    after = {p for p in Path(root).rglob("*.parquet")}
    assert before < after  # strictly grew; nothing removed
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    got = rows(S.ivf_partitioned_topk(spark, root, emb, centroids=cents))
    one = str(tmp_path / "ivf_one")
    S.ivf_write_partitioned(S.ivf_assign(emb, centroids=cents), one)
    want = rows(S.ivf_partitioned_topk(spark, one, emb, centroids=cents))
    assert got == want and got
