"""End-to-end golden index test — the HW9 indexer expectation recast
(`Integration/src/cis5550/test/HW9Test.java:168-196`, FIXTURES.md §2)."""

from __future__ import annotations

from mini_distributed_search_engine_spark.index.build import build_index, with_stable_doc_ids
from mini_distributed_search_engine_spark.sources.transcripts import golden_corpus

EXPECTED_POSTINGS = {
    "appl": {0: 3, 1: 1, 2: 1},
    "banana": {0: 2, 1: 2},
    "fig": {0: 4, 1: 1},
    "coconut": {0: 1},
    "date": {1: 1},
    "elderberri": {1: 1},
    "guava": {2: 1},
    "hazelnut": {2: 1},
}


def test_stable_doc_ids(spark):
    docs = with_stable_doc_ids(golden_corpus(spark))
    got = {(r["conv_id"], r["turn_idx"]): r["doc_id"] for r in docs.collect()}
    assert got == {("conv00000001", 0): 0, ("conv00000002", 0): 1,
                   ("conv00000003", 0): 2}


def test_golden_postings_and_stats(spark):
    idx = build_index(golden_corpus(spark))
    tf = {}
    for r in idx.term_doc_tf.collect():
        tf.setdefault(r["term"], {})[r["doc_id"]] = r["tf"]
    assert tf == EXPECTED_POSTINGS
    # stop words produce no postings
    for stop in ("are", "onli", "you", "mai", "ani", "again"):
        assert stop not in tf
    dls = {r["doc_id"]: r["dl"] for r in idx.docs.collect()}
    assert dls == {0: 10, 1: 6, 2: 3}
    stats = idx.doc_stats.collect()[0]
    assert stats["n_docs"] == 3
    assert abs(stats["avgdl"] - 19 / 3) < 1e-12
    dfs = {r["term"]: r["df"] for r in idx.term_stats.collect()}
    assert dfs == {t: len(p) for t, p in EXPECTED_POSTINGS.items()}
    # a posting list in doc_id order carries dl on every row
    appl = [(r["doc_id"], r["tf"], r["dl"]) for r in
            idx.term_doc_tf.where("term = 'appl'").orderBy("doc_id").collect()]
    assert appl == [(0, 3, 10), (1, 1, 6), (2, 1, 3)]
