"""Partition-local packed build: byte-identical posting streams to the
shuffle-based encoder (block metadata may differ at spliced run boundaries,
which the query path does not rely on), rank-identical queries, and a loud
failure on non-range-partitioned input."""

from __future__ import annotations

import pytest

from mini_distributed_search_engine_spark.index.build import build_index
from mini_distributed_search_engine_spark.index.packed import (
    build_packed_postings, build_packed_postings_local)
from mini_distributed_search_engine_spark.query.bm25 import Query
from mini_distributed_search_engine_spark.query.wand import wand_topk
from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts_pdf)

QUERIES = (Query("x", "apple banana", k=30),
           Query("y", "spark shuffle partition", k=30))


@pytest.fixture(scope="module")
def built(spark):
    idx = build_index(
        spark.createDataFrame(synthesize_transcripts_pdf(80, seed=42)))
    avgdl = float(idx.doc_stats.collect()[0]["avgdl"])
    return idx, avgdl


def test_local_pack_matches_shuffle_pack(spark, built):
    idx, avgdl = built
    core = lambda r: (bytes(r["doc_gaps"]), bytes(r["tfs"]), bytes(r["dls"]),
                      r["df"], r["global_df"], r["first_doc"], r["last_doc"])
    a = {(r["term"], r["shard_id"]): core(r)
         for r in build_packed_postings(
             idx.term_doc_tf, avgdl, shard_span=64).collect()}
    b = {(r["term"], r["shard_id"]): core(r)
         for r in build_packed_postings_local(
             idx.term_doc_tf, avgdl, shard_span=64).collect()}
    assert a == b and len(a) > 100


def test_local_pack_rank_identity(spark, built):
    idx, avgdl = built
    A = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=64)
    B = build_packed_postings_local(idx.term_doc_tf, avgdl, shard_span=64)
    ra = sorted(tuple(r) for r in
                wand_topk(spark, A, idx.doc_stats, queries=QUERIES).collect())
    rb = sorted(tuple(r) for r in
                wand_topk(spark, B, idx.doc_stats, queries=QUERIES).collect())
    assert ra == rb and len(ra) > 0


def test_local_pack_rejects_scrambled_input(spark, built):
    """Hash-repartitioned (NOT doc-range) input must fail loudly, not
    produce ill-formed segments."""
    idx, avgdl = built
    scrambled = idx.term_doc_tf.repartition(8)  # round-robin: ranges interleave
    with pytest.raises(Exception, match="interleaved posting runs"):
        build_packed_postings_local(scrambled, avgdl, shard_span=64).count()

