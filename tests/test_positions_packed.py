"""Packed positional index: roundtrip identity to the row layout, and the
phrase / proximity kernels served from it must be rank-identical to the
pure-Python references over the analyzed docs — across shard spans,
co-sharded layouts (merged TF levels), and query-time tombstones."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mini_distributed_search_engine_spark.functions.analyzer import (
    term_positions_pandas)
from mini_distributed_search_engine_spark.index.build import (
    build_index, with_stable_doc_ids)
from mini_distributed_search_engine_spark.index.packed import (
    TF_FAMILY, build_packed_postings, merge_packed, merge_segments)
from mini_distributed_search_engine_spark.index.positions import (
    POS_FAMILY, build_packed_positions, unpack_positions)
from mini_distributed_search_engine_spark.query.bm25 import Query
from mini_distributed_search_engine_spark.query.phrase import (
    phrase_match_packed)
from mini_distributed_search_engine_spark.query.proximity import (
    proximity_scores_pandas, wand_topk_proximity)
from mini_distributed_search_engine_spark.query.wand import (
    compute_shard_bounds)
from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts_pdf)
from ranked_reference import analyzed_docs, ranked_phrases, ranked_scores

PHRASE_QUERIES = (
    Query("f1", "apple banana", k=200),
    Query("f2", "the apple", k=200),
    Query("f3", "apple apple", k=200),         # repeated-term phrase
    Query("f4", "spark shuffle partition", k=200),
    Query("f5", "apple zzzznotaterm", k=200),  # absent term -> no matches
    Query("f6", "running", k=200),             # single term: n_occ == tf
)

PROX_QUERIES = (
    Query("w1", "apple banana fig"),
    Query("w2", "spark"),
    Query("w3", "relational conditional adjustment activate", k=30),
    Query("w4", "zzznope"),
    Query("w5", "search engine index query", k=5),
    Query("w6", "user assistant"),             # hot terms under skew
)


@pytest.fixture(scope="module")
def built(spark):
    pdf = synthesize_transcripts_pdf(80, seed=99, hot_token_frac=0.3)
    docs = with_stable_doc_ids(spark.createDataFrame(pdf))
    idx = build_index(docs)
    avgdl = idx.doc_stats.collect()[0]["avgdl"]
    pos = term_positions_pandas(docs, "text", stem=True).cache()
    pos.count()
    return idx, avgdl, pos


@pytest.fixture(scope="module")
def docs_terms(built):
    return analyzed_docs(built[0].docs)


def _survivors(docs_terms, tomb) -> set:
    return set(range(len(docs_terms))) - set(tomb)


def _key_rows(df, cols=("query_id", "rank", "doc_id")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize("shard_span", [64, 10_000])
def test_positions_roundtrip(spark, built, shard_span):
    _, _, pos = built
    packed = build_packed_positions(pos, shard_span=shard_span)
    want = sorted((r["doc_id"], r["term"], r["pos"]) for r in pos.collect())
    got = sorted((r["doc_id"], r["term"], r["pos"])
                 for r in unpack_positions(packed).collect())
    assert got == want
    # every segment's doc range stays inside its shard
    for r in packed.select("shard_id", "first_doc", "last_doc").collect():
        assert r["first_doc"] // shard_span == r["shard_id"]
        assert r["last_doc"] // shard_span == r["shard_id"]


def test_positions_roundtrip_bounded_shards(spark, built):
    """shard_bounds assignment (co-sharding with an existing TF layout)
    preserves the rows and lands every doc in its range-assigned shard."""
    idx, avgdl, pos = built
    tf_packed = merge_packed(
        build_packed_postings(idx.term_doc_tf, avgdl, shard_span=64),
        level_factor=4)
    bounds = compute_shard_bounds(tf_packed)
    packed = build_packed_positions(pos, shard_bounds=bounds)
    want = sorted((r["doc_id"], r["term"], r["pos"]) for r in pos.collect())
    got = sorted((r["doc_id"], r["term"], r["pos"])
                 for r in unpack_positions(packed).collect())
    assert got == want
    assert ({r["shard_id"] for r in packed.select("shard_id").collect()}
            <= {s for _, s in bounds})


@pytest.mark.parametrize("shard_span", [64, 10_000])
def test_phrase_packed_rank_identity(spark, built, docs_terms, shard_span):
    _, _, pos = built
    packed = build_packed_positions(pos, shard_span=shard_span)
    want = ranked_phrases(docs_terms, PHRASE_QUERIES)
    got = _key_rows(phrase_match_packed(spark, packed, PHRASE_QUERIES),
                    ("query_id", "rank", "doc_id", "n_occ"))
    assert got == want


def test_phrase_packed_tombstoned(spark, built, docs_terms):
    """blocked_ids inside the packed phrase kernel == the phrase-count
    reference over the surviving docs."""
    _, _, pos = built
    tomb = [r["doc_id"] for r in
            pos.select("doc_id").distinct().limit(7).collect()]
    packed = build_packed_positions(pos, shard_span=64)
    want = ranked_phrases(docs_terms, PHRASE_QUERIES,
                          keep=_survivors(docs_terms, tomb))
    got = _key_rows(phrase_match_packed(spark, packed, PHRASE_QUERIES,
                                        blocked_ids=tomb),
                    ("query_id", "rank", "doc_id", "n_occ"))
    assert got == want


def _prox_want(docs_terms, keep=None):
    return [r[:3] for r in ranked_scores(
        docs_terms, PROX_QUERIES, scorer=proximity_scores_pandas, keep=keep)]


@pytest.mark.parametrize("shard_span", [64, 10_000])
def test_proximity_packed_rank_identity(spark, built, docs_terms, shard_span):
    idx, avgdl, pos = built
    tf_packed = build_packed_postings(idx.term_doc_tf, avgdl,
                                      shard_span=shard_span)
    pos_packed = build_packed_positions(pos, shard_span=shard_span)
    got = _key_rows(wand_topk_proximity(
        spark, tf_packed, pos_packed, idx.doc_stats, queries=PROX_QUERIES))
    assert got == _prox_want(docs_terms)


def test_proximity_packed_cosharded_merged(spark, built, docs_terms):
    """Positions co-sharded (via shard_bounds) with a MERGED TF layout:
    the cogroup sees aligned shards and stays rank-identical."""
    idx, avgdl, pos = built
    tf_packed = merge_packed(
        build_packed_postings(idx.term_doc_tf, avgdl, shard_span=64),
        level_factor=4)
    pos_packed = build_packed_positions(
        pos, shard_bounds=compute_shard_bounds(tf_packed))
    got = _key_rows(wand_topk_proximity(
        spark, tf_packed, pos_packed, idx.doc_stats, queries=PROX_QUERIES))
    assert got == _prox_want(docs_terms)


def test_proximity_packed_tombstoned(spark, built, docs_terms):
    """blocked_ids in the proximity kernel == the proximity reference over
    the surviving docs with GLOBAL corpus stats."""
    idx, avgdl, pos = built
    tomb = [d for d in range(0, 200, 13)]
    tf_packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=64)
    pos_packed = build_packed_positions(pos, shard_span=64)
    want = _prox_want(docs_terms, keep=_survivors(docs_terms, tomb))
    got = _key_rows(wand_topk_proximity(
        spark, tf_packed, pos_packed, idx.doc_stats, queries=PROX_QUERIES,
        blocked_ids=tomb))
    assert got == want


def test_proximity_cosharding_guard(spark, built):
    """A positional table packed with a DIFFERENT shard span must fail
    loudly inside the kernel, not silently score every bonus as 0."""
    idx, avgdl, pos = built
    tf_packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=64)
    pos_misaligned = build_packed_positions(pos, shard_span=10_000)
    with pytest.raises(Exception, match="co-sharded"):
        wand_topk_proximity(spark, tf_packed, pos_misaligned,
                            idx.doc_stats, queries=PROX_QUERIES).collect()


def test_positions_merge_levels(spark, built):
    """Hierarchical positional merges: byte-splice levels reproduce the
    rows exactly and the phrase kernel stays rank-identical."""
    from mini_distributed_search_engine_spark.index.positions import (
        merge_packed_positions)
    _, _, pos = built
    packed = build_packed_positions(pos, shard_span=64)
    merged = merge_packed_positions(
        merge_packed_positions(packed, level_factor=4), level_factor=4)
    want = sorted((r["doc_id"], r["term"], r["pos"]) for r in pos.collect())
    got = sorted((r["doc_id"], r["term"], r["pos"])
                 for r in unpack_positions(merged).collect())
    assert got == want
    assert merged.count() < packed.count()
    base = _key_rows(phrase_match_packed(spark, packed, PHRASE_QUERIES),
                     ("query_id", "rank", "doc_id", "n_occ"))
    lvl = _key_rows(phrase_match_packed(spark, merged, PHRASE_QUERIES),
                    ("query_id", "rank", "doc_id", "n_occ"))
    assert lvl == base


@pytest.mark.parametrize("level_factor", [1, 4])
@pytest.mark.parametrize("family", ["tf", "positions"])
def test_merge_streams_equal_fresh_encode(spark, built, family, level_factor):
    """A merge concatenates the right streams: per (term, shard), the
    merged doc_gaps and the family's two blobs, plus df / n_pos /
    first_doc / last_doc, equal a fresh encode at span * level_factor.
    level_factor 1 is an append boundary: docs below and above a cut in
    the middle of a shard are encoded apart, and the merge splices the
    two copies of that shard."""
    idx, avgdl, pos = built
    span = 64
    if family == "tf":
        rows, fam = idx.term_doc_tf, TF_FAMILY
        encode = lambda df, s: build_packed_postings(df, avgdl, shard_span=s)
    else:
        rows, fam = pos, POS_FAMILY
        encode = lambda df, s: build_packed_positions(df, shard_span=s)
    if level_factor == 1:
        cut = 150  # inside shard 2 (docs 128-191)
        segs = encode(rows.where(F.col("doc_id") < cut), span).unionByName(
            encode(rows.where(F.col("doc_id") >= cut), span))
    else:
        segs = encode(rows, span)
    merged = merge_segments(segs, fam, level_factor)
    cols = [c for c in ("term", "shard_id", *fam.streams, "df", "n_pos",
                        "first_doc", "last_doc") if c in fam.cols]
    key = lambda df: sorted(
        tuple(bytes(r[c]) if c in fam.streams else r[c] for c in cols)
        for r in df.select(*cols).collect())
    got = key(merged)
    assert got == key(encode(rows, span * level_factor))
    assert len(got) < segs.count()  # some segments were really spliced


def test_positions_purge(spark, built, docs_terms):
    """purge_positions removes exactly the tombstoned docs' positions and
    leaves every non-intersecting segment byte-identical."""
    from mini_distributed_search_engine_spark.index.positions import (
        purge_positions)
    _, _, pos = built
    packed = build_packed_positions(pos, shard_span=64).cache()
    tomb = [3, 64, 65, 130]
    purged = purge_positions(packed, tomb)
    want = sorted((r["doc_id"], r["term"], r["pos"]) for r in
                  pos.where(~F.col("doc_id").isin(tomb)).collect())
    got = sorted((r["doc_id"], r["term"], r["pos"])
                 for r in unpack_positions(purged).collect())
    assert got == want
    # untouched segments (no tombstone in their PRE-purge range) pass
    # through byte-equal
    before = {(r["term"], r["shard_id"]):
              (bytes(r["pos_deltas"]), r["first_doc"], r["last_doc"])
              for r in packed.collect()}
    tomb_sorted = sorted(tomb)
    import bisect
    n_same = 0
    for r in purged.collect():
        blob, fd, ld = before[(r["term"], r["shard_id"])]
        if bisect.bisect_left(tomb_sorted, fd) == bisect.bisect_right(
                tomb_sorted, ld):
            assert bytes(r["pos_deltas"]) == blob
            n_same += 1
    assert n_same > 0
    # phrase over the purged pack == the reference over surviving docs
    a = _key_rows(phrase_match_packed(spark, purged, PHRASE_QUERIES),
                  ("query_id", "rank", "doc_id", "n_occ"))
    assert a == ranked_phrases(docs_terms, PHRASE_QUERIES,
                               keep=_survivors(docs_terms, tomb))
    packed.unpersist()


def test_positions_append(spark, built):
    """Incremental positional append == full rebuild, byte-for-byte on
    the posting streams; old-range appends fail loudly."""
    from mini_distributed_search_engine_spark.index.positions import (
        append_packed_positions)
    _, _, pos = built
    cut = 150
    old = build_packed_positions(
        pos.where(F.col("doc_id") < cut), shard_span=64)
    appended = append_packed_positions(
        old, pos.where(F.col("doc_id") >= cut), shard_span=64)
    rebuilt = build_packed_positions(pos, shard_span=64)
    a = {(r["term"], r["shard_id"]):
         (bytes(r["doc_gaps"]), bytes(r["pos_counts"]),
          bytes(r["pos_deltas"]), r["df"], r["n_pos"])
         for r in appended.collect()}
    b = {(r["term"], r["shard_id"]):
         (bytes(r["doc_gaps"]), bytes(r["pos_counts"]),
          bytes(r["pos_deltas"]), r["df"], r["n_pos"])
         for r in rebuilt.collect()}
    assert a == b
    with pytest.raises(ValueError, match="append-only"):
        append_packed_positions(old, pos.where(F.col("doc_id") < 10),
                                shard_span=64)
