"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship stemmed BM25 top-k over transcripts derived
from sf0.001 documents. `queries()`/`oracle_sql()` pair every implemented
operator (SURVEY.md §2) with a DuckDB oracle; see
`mini_distributed_search_engine_spark/oracle.py` for the oracle-construction
rules (notably: the Porter stem step is dictionary-inlined in stemmed oracles
because DuckDB's fts extension cannot load offline; `*_nostem` siblings are
100% DuckDB-native).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mini_distributed_search_engine_spark import oracle as O
from mini_distributed_search_engine_spark.functions import textstats as TS
from mini_distributed_search_engine_spark.index.build import build_index
from mini_distributed_search_engine_spark.index.packed import (
    append_packed, build_packed_postings, merge_packed, purge_docs,
    unpack_to_rows)
from mini_distributed_search_engine_spark.operators import flame
from mini_distributed_search_engine_spark.operators.pagerank import (
    pagerank_converged_query, pagerank_converged_sql, pagerank_fixed_query,
    pagerank_fixed_sql)
from mini_distributed_search_engine_spark.query.bm25 import (
    AND_QUERY_SET, DEFAULT_QUERY_SET, bm25_topk)
from mini_distributed_search_engine_spark.functions.analyzer import (
    term_positions_pandas)
from mini_distributed_search_engine_spark.index.build import (
    _stable_doc_ids)
from mini_distributed_search_engine_spark.query.tfidf import (
    RERANK_QUERY_SET, tfidf_blend_topk, tfidf_rerank_topk)
from mini_distributed_search_engine_spark.query.wand import wand_topk
from mini_distributed_search_engine_spark.sources.transcripts import (
    transcripts_from_documents)

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: stemmed BM25 top-k on sf0.001-derived transcripts."""
    return _bm25(stem=True)(spark, SF0001)


def _local(df: DataFrame, *owners) -> DataFrame:
    """``df`` collected into a driver-local frame (one collect),
    then what ``owners`` persisted for it released: an entry's result is
    lazy over its cached index frames, and a cache left behind would be
    found again by the next entry that builds from the same input."""
    try:
        return df.sparkSession.createDataFrame(df.collect(), df.schema)
    finally:
        for owner in owners:
            owner.unpersist()


# ---------------------------------------------------------------------------
# fulltext pipeline queries
# ---------------------------------------------------------------------------

def _q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = transcripts_from_documents(spark, sf_dir)
    return tr.select("conv_id", "turn_idx", "role", "text", "tool",
                     F.unix_timestamp("ts").alias("ts_epoch"))


def _index(spark: SparkSession, sf_dir: str, stem: bool):
    return build_index(transcripts_from_documents(spark, sf_dir), stem=stem)


def _stable_docs(spark: SparkSession, sf_dir: str
                 ) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    return _stable_doc_ids(transcripts_from_documents(spark, sf_dir))


def _q_docs(stem: bool):
    def q(spark, sf_dir):
        idx = _index(spark, sf_dir, stem)
        return _local(idx.docs.select("doc_id", "conv_id", "turn_idx", "dl"),
                      idx)
    return q


def _q_term_doc_tf(stem: bool):
    def q(spark, sf_dir):
        idx = _index(spark, sf_dir, stem)
        return _local(idx.term_doc_tf.select("term", "doc_id", "tf"), idx)
    return q


def _q_term_stats(stem: bool):
    def q(spark, sf_dir):
        idx = _index(spark, sf_dir, stem)
        return _local(idx.term_stats.select("term", "df"), idx)
    return q


def _q_doc_stats(stem: bool):
    def q(spark, sf_dir):
        idx = _index(spark, sf_dir, stem)
        return _local(idx.doc_stats.select(
            "n_docs", F.round("avgdl", 9).alias("avgdl")), idx)
    return q


def _bm25(stem: bool):
    def q(spark, sf_dir):
        idx = _index(spark, sf_dir, stem)
        return _local(bm25_topk(spark, idx.term_doc_tf, idx.term_stats,
                                idx.doc_stats, stem=stem), idx)
    return q


def _bm25_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-index MaxScore/WAND path; oracle = the same BM25 SQL as the
    exhaustive path (rank-identity across physical plans is the point)."""
    idx = _index(spark, sf_dir, stem=True)
    avgdl = float(idx.doc_stats.collect()[0]["avgdl"])
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=256)
    return _local(wand_topk(spark, packed, idx.doc_stats), idx)


def _bm25_filtered_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered retrieval SERVED FROM THE COMPRESSED INDEX: the
    allowed doc set (role = 'user') is sharded alongside the packed
    segments and masked inside the MaxScore kernel before scoring — no
    fallback to the uncompressed postings. Oracle = BM25 over the role's
    docs with GLOBAL corpus stats."""
    idx = _index(spark, sf_dir, stem=True)
    avgdl = float(idx.doc_stats.collect()[0]["avgdl"])
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=256)
    allowed = idx.docs.where(F.col("role") == "user").select("doc_id")
    return _local(wand_topk(spark, packed, idx.doc_stats,
                            allowed_docs=allowed), idx)


def _tomb_ids(idx, mod: int = 13) -> list[int]:
    """The deterministic tombstone set both delete-lifecycle gates use
    (doc_id % mod == 0), collected — metadata-scale by construction."""
    return [r["doc_id"] for r in idx.docs
            .where(F.col("doc_id") % mod == 0).select("doc_id").collect()]


def _bm25_tombstoned_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time tombstone masking: every doc with doc_id % 13 == 0 is
    deleted-but-not-yet-purged; the blocked set rides the kernel closure
    (metadata-scale by the LSM discipline) and candidates are dropped
    the moment they decode. Oracle = BM25 over the surviving docs with
    GLOBAL corpus stats — identical semantics to the allowed-doc filter
    with the membership test inverted."""
    idx = _index(spark, sf_dir, stem=True)
    avgdl = float(idx.doc_stats.collect()[0]["avgdl"])
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=256)
    return _local(wand_topk(spark, packed, idx.doc_stats,
                            blocked_ids=_tomb_ids(idx)), idx)


def _bm25_and_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same AND semantics over the compressed index: literal sorted-array
    posting-list intersection inside doc-range shards; same oracle."""
    idx = _index(spark, sf_dir, stem=True)
    avgdl = float(idx.doc_stats.collect()[0]["avgdl"])
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=256)
    return _local(wand_topk(spark, packed, idx.doc_stats,
                            queries=AND_QUERY_SET, conjunctive=True), idx)


def _bm25_hydrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Searcher lifecycle parity (SURVEY §2.2 'metadata hydrate',
    Searcher.java:253-273): top-k docIDs joined back to the doc store for
    display metadata."""
    idx = _index(spark, sf_dir, stem=True)
    topk = bm25_topk(spark, idx.term_doc_tf, idx.term_stats, idx.doc_stats,
                     stem=True)
    docs = idx.docs.select("doc_id", "conv_id", "turn_idx", "role",
                           F.substring("text", 1, 80).alias("snippet"))
    return _local(topk.join(docs, "doc_id").select(
        "query_id", "rank", "doc_id", "score", "conv_id", "turn_idx",
        "role", "snippet"), idx)


def _tfidf_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference Searcher's OWN ranking (TF-IDF threshold 0.4 + constant
    PageRank blend, Searcher.java:189-244) — reference-parity query."""
    idx = _index(spark, sf_dir, stem=True)
    return _local(tfidf_blend_topk(spark, idx.term_doc_tf, idx.term_stats,
                                   DEFAULT_QUERY_SET), idx)


def _tfidf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Searcher result pipeline incl. the secondary title/body-match
    bucketing re-rank (Searcher.java:275-307)."""
    idx = _index(spark, sf_dir, stem=True)
    return _local(tfidf_rerank_topk(spark, idx.term_doc_tf, idx.term_stats,
                                    idx.docs, RERANK_QUERY_SET), idx)


def _positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional index rows (doc_id, term, pos) — pos over the
    post-analyzer term sequence."""
    docs, cached = _stable_docs(spark, sf_dir)
    return _local(term_positions_pandas(docs, "text", stem=True), *cached)


def _positions_packed(spark: SparkSession, sf_dir: str,
                      shard_bounds=None
                      ) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """Shared builder: positional rows -> packed per-(term, doc-shard)
    position segments (index/positions.py; delta+varint blobs, the same
    compression discipline the TF postings got in round 1), and the
    frames the docID pass persisted for them."""
    from mini_distributed_search_engine_spark.index.positions import (
        build_packed_positions)
    docs, cached = _stable_docs(spark, sf_dir)
    pos = term_positions_pandas(docs, "text", stem=True)
    return build_packed_positions(pos, shard_span=256,
                                  shard_bounds=shard_bounds), cached


def _positions_packed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW round 5: pack the positional index (doc-gap + per-doc
    position-delta varint segments, per-128-doc block byte offsets) and
    unpack it back — the physical format under the packed phrase and
    proximity kernels, gated against the same positional oracle as
    `term_positions`."""
    from mini_distributed_search_engine_spark.index.positions import (
        unpack_positions)
    packed, cached = _positions_packed(spark, sf_dir)
    return _local(unpack_positions(packed), *cached)


def _positions_archive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional cold tier: packed positions -> PFD archive -> restored
    serving segments -> rows, gated against the same positional oracle
    (byte-identity/rank-identity pytest-enforced in tests/test_codec_pfd.py)."""
    from mini_distributed_search_engine_spark.index.codec_pfd import (
        archive_positions, restore_positions)
    from mini_distributed_search_engine_spark.index.positions import (
        unpack_positions)
    packed, cached = _positions_packed(spark, sf_dir)
    return _local(unpack_positions(restore_positions(archive_positions(
        packed))), *cached)


def _phrase_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW round 5: phrase search served from the PACKED positional index
    (per-shard anchor-intersection kernel, candidate-block-only position
    decode); oracle = the phrase occurrences of the row positions."""
    from mini_distributed_search_engine_spark.query.phrase import (
        phrase_match_packed)
    packed, cached = _positions_packed(spark, sf_dir)
    return _local(phrase_match_packed(spark, packed), *cached)


def _span_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW round 5: span/near retrieval — all query terms within a token
    window, ranked tightest-span-first — served from the packed
    positional index (sorted-merge sliding-window kernel per doc-range
    shard); oracle = brute-force min over the per-doc position cross
    product (an m-way join in SQL). Two algorithms, one answer."""
    from mini_distributed_search_engine_spark.query.span import (
        span_near_match)
    packed, cached = _positions_packed(spark, sf_dir)
    return _local(span_near_match(spark, packed), *cached)


def _bm25_proximity_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW round 5: proximity-boosted retrieval served from the COMPRESSED
    indexes — packed TF segments cogrouped per doc-range shard with
    positional segments co-sharded via shard_bounds (exercising the
    alignment contract), MaxScore pruning carrying the bonus slack, exact
    pairwise-min-distance rerank of the surviving pool; oracle = BM25 +
    the pairwise bonus over the row positions."""
    from mini_distributed_search_engine_spark.query.proximity import (
        wand_topk_proximity)
    from mini_distributed_search_engine_spark.query.wand import (
        compute_shard_bounds)
    idx = _index(spark, sf_dir, stem=True)
    avgdl = float(idx.doc_stats.collect()[0]["avgdl"])
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=256)
    pos_packed, cached = _positions_packed(
        spark, sf_dir, shard_bounds=compute_shard_bounds(packed))
    return _local(wand_topk_proximity(spark, packed, pos_packed,
                                      idx.doc_stats), idx, *cached)


def _text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-term bigrams over the analyzed corpus — phrase/
    collocation statistics over the analyzer's term sequence. Engine
    path: fused shifted-array pass with per-partition partial counts
    (O(bigram-vocab) rows shuffled); oracle path: positional self-join —
    two algorithms, one answer."""
    from mini_distributed_search_engine_spark.functions.analyzer import (
        bigram_counts_pandas)
    from pyspark.sql import Window
    docs, cached = _stable_docs(spark, sf_dir)
    big = bigram_counts_pandas(docs, "text", stem=True)
    # orderBy().limit() compiles to a parallel TakeOrdered over the full
    # bigram vocabulary; only the surviving 50 rows see the (then-trivial)
    # global row_number window — never a single-task whole-vocab sort
    top = big.orderBy(F.col("cnt").desc(), F.col("t1").asc(),
                      F.col("t2").asc()).limit(50)
    w = Window.orderBy(F.col("cnt").desc(), F.col("t1").asc(),
                       F.col("t2").asc())
    return _local(top.withColumn("rank", F.row_number().over(w).cast("int"))
                  .select("rank", "t1", "t2", "cnt"), *cached)


def _term_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete surface (Searcher.java:319-337 '/words' + client prefix
    filter): terms by document frequency under a prefix."""
    idx = _index(spark, sf_dir, stem=True)
    return _local(idx.term_stats.where(F.col("term").startswith("s"))
                  .orderBy(F.col("df").desc(), F.col("term").asc()).limit(20),
                  idx)


def _groupby_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as flame_groupby via the explicit salted two-phase plan
    (operators/skew.py) — oracle identical to the unsalted query."""
    from mini_distributed_search_engine_spark.operators.skew import salted_agg
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return salted_agg(li, ["l_returnflag", "l_linestatus"],
                      {"cnt": ("count", "*"), "sum_qty": ("sum", "l_quantity")})


def _packed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode to delta+varint segments, merge one level, decode back —
    must equal the raw (term, doc_id, tf, dl) table exactly."""
    idx = _index(spark, sf_dir, stem=True)
    avgdl = float(idx.doc_stats.collect()[0]["avgdl"])
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=128)
    return _local(unpack_to_rows(merge_packed(packed, level_factor=4)), idx)


def _packed_pfd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PForDelta half of the north rule's "varint/PForDelta" pair
    (index/codec_pfd.py): encode the postings into NewPFD-style bit-packed
    blocks with patched exceptions, decode back — must equal the raw
    (term, doc_id, tf, dl) table exactly (same oracle as packed_roundtrip;
    the two codecs must agree on the logical content). Size/speed
    trade-off vs the varint serving format is measured in BENCH.md."""
    from mini_distributed_search_engine_spark.index.codec_pfd import (
        build_packed_postings_pfd, unpack_packed_pfd)
    idx = _index(spark, sf_dir, stem=True)
    return _local(unpack_packed_pfd(
        build_packed_postings_pfd(idx.term_doc_tf, shard_span=128)), idx)


def _index_archive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-tier lifecycle: serving index -> PFD archive -> restored
    serving index -> decoded rows. Must equal the raw postings table
    (same oracle as packed_roundtrip); restore byte-identity for
    canonically-blocked segments and rank-identity on the restored index
    are pytest-enforced (tests/test_codec_pfd.py)."""
    from mini_distributed_search_engine_spark.index.codec_pfd import (
        archive_packed, restore_packed)
    idx = _index(spark, sf_dir, stem=True)
    avgdl = float(idx.doc_stats.collect()[0]["avgdl"])
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=128)
    return _local(unpack_to_rows(restore_packed(archive_packed(packed))), idx)


def _packed_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append: pack the first half of the doc space, append the
    second half's postings (boundary-shard byte splice), decode back — must
    equal the raw (term, doc_id, tf, dl) table, same oracle as the one-shot
    round-trip."""
    idx = _index(spark, sf_dir, stem=True)
    avgdl = float(idx.doc_stats.collect()[0]["avgdl"])
    cut = idx.docs.count() // 2
    old_tf = idx.term_doc_tf.where(F.col("doc_id") < cut)
    new_tf = idx.term_doc_tf.where(F.col("doc_id") >= cut)
    old_packed = build_packed_postings(old_tf, avgdl, shard_span=128)
    return _local(unpack_to_rows(
        append_packed(old_packed, new_tf, avgdl, shard_span=128)), idx)


def _packed_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone purge: pack + merge, physically delete every doc with
    doc_id % 13 == 0 (the deterministic tombstone set), decode back —
    must equal the raw postings table minus the tombstoned docs. Only
    range-intersecting segments re-encode; the rest pass through
    byte-untouched (pytest-enforced in tests/test_incremental.py)."""
    idx = _index(spark, sf_dir, stem=True)
    avgdl = float(idx.doc_stats.collect()[0]["avgdl"])
    packed = merge_packed(
        build_packed_postings(idx.term_doc_tf, avgdl, shard_span=128),
        level_factor=4)
    return _local(unpack_to_rows(purge_docs(packed, _tomb_ids(idx))), idx)


def _index_purge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE delete lifecycle, end-to-end against an independent
    oracle: staged build (positions on) in a scratch root, every doc with
    doc_id % 13 == 0 recorded as a tombstone beside the index (O(1)
    metadata, `record_tombstones`), `StagedIndexBuild.purge()` folds the
    set into every stage (row layouts anti-joined, packed segments
    range-gated re-encode, stats RECOMPUTED over survivors), and a fresh
    SearchEngine on the purged root answers BM25 top-k. Unlike
    `bm25_topk_tombstoned_wand` (query-time mask, global stats by
    design), the purged corpus has post-purge n_docs/avgdl/df — the
    oracle filters the corpus itself (`purge_where`)."""
    import shutil
    import tempfile
    from mini_distributed_search_engine_spark.plans.pipeline import (
        StagedIndexBuild)
    from mini_distributed_search_engine_spark.query.engine import SearchEngine
    root = tempfile.mkdtemp(prefix="mdse_purge_gate_")
    try:
        b = StagedIndexBuild(spark, root, run_id="purge_gate")
        b.run(transcripts_from_documents(spark, sf_dir), stem=True,
              shard_span=256, merge_factor=4, positions=True)
        tomb = [r["doc_id"] for r in b.read("docs", "data")
                .where(F.col("doc_id") % 13 == 0).select("doc_id").collect()]
        b.record_tombstones(tomb)
        b.purge()
        eng = SearchEngine(spark, root)
        out = eng.search_batch(DEFAULT_QUERY_SET)
        # localize so the scratch root can be removed
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _drain_sf_stream(spark: SparkSession, sf_dir: str, root: str,
                     with_positions: bool = False):
    """Shared streaming-gate harness: split the sf transcripts on
    conversation boundaries into three files (append-only order), drain
    them through the foreachBatch incremental-append sink as three
    micro-batches, return the StreamingIndexer."""
    from pathlib import Path
    from mini_distributed_search_engine_spark.streaming.indexing import (
        StreamingIndexer, read_transcript_stream)
    src = Path(root) / "in"
    src.mkdir()
    tr = transcripts_from_documents(spark, sf_dir)
    pdf = tr.orderBy("conv_id", "turn_idx").toPandas()
    convs = sorted(pdf["conv_id"].unique())
    bounds = [convs[len(convs) // 3], convs[2 * len(convs) // 3]]
    chunks = [pdf[pdf["conv_id"] < bounds[0]],
              pdf[(pdf["conv_id"] >= bounds[0])
                  & (pdf["conv_id"] < bounds[1])],
              pdf[pdf["conv_id"] >= bounds[1]]]
    # sequential writes => increasing mod-times; the file source drains
    # oldest-first, preserving the append-only conv order across batches
    for i, chunk in enumerate(chunks):
        (spark.createDataFrame(chunk, schema=tr.schema).coalesce(1)
         .write.parquet(str(src / f"part{i}.parquet")))
    indexer = StreamingIndexer(spark, str(Path(root) / "idx"),
                               shard_span=128,
                               with_positions=with_positions)
    q = indexer.start(read_transcript_stream(spark, str(src)))
    if not q.awaitTermination(300):
        # slow-VM drain overran: stop the writer BEFORE compact/read
        # (single-writer contract) and fail loudly rather than return
        # a partial index
        q.stop()
        raise RuntimeError("streaming drain did not finish in 300s")
    return indexer


def _streaming_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING-built index against the DuckDB postings oracle: the
    sf transcripts are split on conversation boundaries into three files
    (append-only order), drained through the foreachBatch incremental-
    append sink as three micro-batches (O(batch) bytes each, boundary-
    shard splices), LSM-``compact()``ed to one generation, and decoded
    back to (term, doc_id, tf, dl) rows. Same oracle as
    `packed_roundtrip`: the ingestion path changes, the postings must
    not. Until now this parity was pytest-vs-batch-engine only; this
    entry proves the streaming path against the independent oracle."""
    import shutil
    import tempfile
    root = tempfile.mkdtemp(prefix="mdse_stream_gate_")
    try:
        indexer = _drain_sf_stream(spark, sf_dir, root)
        indexer.compact()
        rows = unpack_to_rows(indexer.packed())
        # localize (sf0.01-scale result) so the scratch root can be removed
        out = spark.createDataFrame(rows.collect(), rows.schema)
        indexer.unpersist()
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _streaming_positions_roundtrip(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """NEW round 5: the STREAM-MAINTAINED packed positional index
    (`StreamingIndexer(with_positions=True)` — per-batch pos_gN
    directories, boundary-shard splices, one LSM compaction) decoded
    back to (doc_id, term, pos) rows against the same positional oracle
    as `term_positions` / `positions_packed_roundtrip`: the ingestion
    path changes, the positions must not."""
    import shutil
    import tempfile
    from mini_distributed_search_engine_spark.index.positions import (
        unpack_positions)
    root = tempfile.mkdtemp(prefix="mdse_stream_pos_gate_")
    try:
        indexer = _drain_sf_stream(spark, sf_dir, root, with_positions=True)
        indexer.compact()
        rows = unpack_positions(indexer.positions_packed())
        out = spark.createDataFrame(rows.collect(), rows.schema)
        indexer.unpersist()
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _bm25_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field collapsing: the hydrated top-k list reduced to each
    conversation's best-ranked turn, conversations re-ranked by that
    turn's rank — the result-diversity feature (Elasticsearch 'collapse')
    a conversation search UI needs so one long conversation can't fill
    the whole page."""
    from pyspark.sql import Window
    base = _bm25_hydrated(spark, sf_dir)
    w1 = Window.partitionBy("query_id", "conv_id").orderBy("rank")
    best = (base.withColumn("rn", F.row_number().over(w1))
            .where(F.col("rn") == 1))
    w2 = Window.partitionBy("query_id").orderBy("rank")
    return (best.withColumn("conv_rank",
                            F.row_number().over(w2).cast("int"))
            .where(F.col("conv_rank") <= 10)
            .select("query_id", "conv_rank", "conv_id", "doc_id", "score"))


def _doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per doc by tf*ln(N/df) — the keyword-
    extraction labeling primitive, computed from the index's own tables."""
    idx = _index(spark, sf_dir, stem=True)
    n_docs = int(idx.doc_stats.collect()[0]["n_docs"])
    return _local(TS.doc_keywords(idx.term_doc_tf, idx.term_stats, n_docs),
                  idx)


def _related_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI co-occurrence over per-doc keyword sets — related-term
    discovery with pair fan-out capped at C(topn,2) per doc."""
    idx = _index(spark, sf_dir, stem=True)
    n_docs = int(idx.doc_stats.collect()[0]["n_docs"])
    return _local(TS.related_terms(idx.term_doc_tf, idx.term_stats, n_docs),
                  idx)


def _index_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard lineage rows from the checkpoint-resumable staged build
    (north rule: per-partition lineage written to a metrics table). Runs
    the full staged pipeline into a scratch root (shard_span=128 so the
    sf0.01 doc space covers several shards), reads back the _lineage
    metrics table, and projects the deterministic columns of the packed
    stage; bytes/wall_ms/committed_at are run-dependent by design."""
    import shutil
    import tempfile
    from mini_distributed_search_engine_spark.plans.pipeline import (
        StagedIndexBuild)
    # mkdtemp per invocation (a fixed shared path raced between concurrent
    # correctness runs on one host); the few lineage rows are localized so
    # the scratch root can be removed before return.
    root = tempfile.mkdtemp(prefix="mdse_lineage_check_")
    try:
        tr = transcripts_from_documents(spark, sf_dir)
        StagedIndexBuild(spark, root).run(tr, stem=True, shard_span=128)
        lin = (spark.read.parquet(f"{root}/_lineage")
               .where(F.col("stage") == "packed")
               .select("shard_id", "term_lo", "term_hi", "doc_count"))
        return spark.createDataFrame(lin.collect(), lin.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# Driver window. The driver's correctness gate records only the first 50
# registry keys, so the registries stay in semantic source order and this
# list picks the 50 that lead. Rule: entries with the stalest newest driver
# row first, then entries whose code changed since that row, then entries
# that never had a driver row. Verify placement after any registry edit:
#   python -c "import __spark_entry__ as E; print(list(E.queries())[:50])"
# --------------------------------------------------------------------------
_R5_WINDOW = (
    # stalest newest driver row: the one r3-latest entry
    "transcripts",
    # encoder code changed since their newest (r4) driver row
    "packed_roundtrip", "packed_purge_roundtrip", "streaming_index_roundtrip",
    # r4-latest entries, registry source order, up to the 50th slot (the
    # last two flame_* entries stay outside)
    "pagerank_fixed", "pagerank_converged",
    "term_doc_tf", "bm25_topk_hydrated",
    "term_doc_tf_nostem", "tfidf_blend_topk",
    "term_suggestions", "tfidf_rerank_topk", "bm25_topk_nostem",
    "flame_groupby_salted", "flame_parallelize", "flame_scan_filter_project",
    "flame_wordcount", "flame_distinct", "flame_join", "flame_fold",
    "flame_groupby", "flame_intersection", "flame_cogroup", "flame_sample",
    "flame_take", "flame_count",
    # carried over from the previous window
    "doc_keywords", "related_terms", "text_bigrams", "packed_pfd_roundtrip",
    "docs_stable_ids", "term_stats", "doc_stats",
    "bm25_topk_collapsed", "term_positions", "index_lineage",
    "packed_incremental_roundtrip",
    "positions_packed_roundtrip", "phrase_match_packed",
    "bm25_topk_proximity_wand", "span_near_match",
    "streaming_positions_roundtrip", "index_purge_roundtrip",
    "bm25_topk", "bm25_topk_wand",
    "bm25_topk_and_wand", "bm25_topk_filtered_wand",
    "bm25_topk_tombstoned_wand",
    # never had a driver row
    "index_archive_roundtrip", "positions_archive_roundtrip",
)
assert len(_R5_WINDOW) == 50 and len(set(_R5_WINDOW)) == 50


def _window_order(d: dict) -> dict:
    """Reorder a registry so _R5_WINDOW occupies the first 50 slots; the
    rest keep their semantic source order. Fails loudly if the window
    names drift from the registry keys."""
    missing = [k for k in _R5_WINDOW if k not in d]
    if missing:
        raise AssertionError(f"window names not in registry: {missing}")
    out = {k: d[k] for k in _R5_WINDOW}
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry in semantic source order; `_window_order` applies the
    driver-window rotation (see the _R5_WINDOW note above)."""
    return _window_order({
        # reference's PageRank job (fixed 5 iterations for oracle parity)
        "pagerank_fixed": lambda s, d: pagerank_fixed_query(s, d, iters=5),
        # NEW: the reference's actual stopping rule (threshold convergence)
        "pagerank_converged": pagerank_converged_query,
        "doc_keywords": _doc_keywords,
        "related_terms": _related_terms,
        # NEW round 3: collocation stats
        "text_bigrams": _text_bigrams,
        # --- part 3: core fulltext pipeline (double-green; kept fresh) ---
        "transcripts": _q_transcripts,
        "docs_stable_ids": _q_docs(stem=True),
        "term_doc_tf": _q_term_doc_tf(stem=True),
        "term_stats": _q_term_stats(stem=True),
        "doc_stats": _q_doc_stats(stem=True),
        "bm25_topk": _bm25(stem=True),
        # NEW round 4: same filter semantics served from the packed index
        "bm25_topk_filtered_wand": _bm25_filtered_wand,
        # NEW round 4: tombstoned retrieval (deletes visible pre-compaction)
        "bm25_topk_tombstoned_wand": _bm25_tombstoned_wand,
        "bm25_topk_collapsed": _bm25_collapsed,
        "bm25_topk_wand": _bm25_wand,
        "bm25_topk_and_wand": _bm25_and_wand,
        "bm25_topk_hydrated": _bm25_hydrated,
        "term_positions": _positions,
        # NEW round 5: packed positional index family
        "positions_packed_roundtrip": _positions_packed_roundtrip,
        # NEW round 5: positional cold tier (PFD archive -> restore)
        "positions_archive_roundtrip": _positions_archive_roundtrip,
        "phrase_match_packed": _phrase_packed,
        "bm25_topk_proximity_wand": _bm25_proximity_wand,
        "span_near_match": _span_near,
        "packed_roundtrip": _packed_roundtrip,
        # NEW round 5: the PForDelta codec twin of the varint round-trip,
        # and the cold-tier archive->restore lifecycle built on it
        "packed_pfd_roundtrip": _packed_pfd_roundtrip,
        "index_archive_roundtrip": _index_archive_roundtrip,
        "index_lineage": _index_lineage,
        "packed_incremental_roundtrip": _packed_incremental,
        # NEW round 4: tombstone deletes folded in at compaction time
        "packed_purge_roundtrip": _packed_purge,
        # NEW round 5: the whole batch delete lifecycle (record → purge
        # every stage → fresh engine), stats recomputed over survivors
        "index_purge_roundtrip": _index_purge_roundtrip,
        # NEW round 4: streaming-built index vs the independent oracle
        "streaming_index_roundtrip": _streaming_index_roundtrip,
        # NEW round 5: stream-maintained positional index, same oracle
        # family as term_positions
        "streaming_positions_roundtrip": _streaming_positions_roundtrip,
        "term_doc_tf_nostem": _q_term_doc_tf(stem=False),
        "tfidf_blend_topk": _tfidf_blend,
        "term_suggestions": _term_suggestions,
        "tfidf_rerank_topk": _tfidf_rerank,
        "bm25_topk_nostem": _bm25(stem=False),
        "flame_groupby_salted": _groupby_salted,
        # Flame operator analogues (SURVEY.md §2.1)
        "flame_parallelize": flame.parallelize_list,
        "flame_scan_filter_project": flame.scan_filter_project,
        "flame_wordcount": flame.wordcount,
        "flame_distinct": flame.distinct_keys,
        "flame_join": flame.join_orders_customer,
        "flame_fold": flame.fold_aggregates,
        "flame_groupby": flame.groupby_flag_status,
        "flame_intersection": flame.intersection_keys,
        "flame_cogroup": flame.cogroup_counts,
        "flame_sample": flame.sample_deterministic,
        "flame_take": flame.take_ordered,
        "flame_count": flame.count_rows,
        "flame_mappartitions": flame.mappartitions_token_count,
        "flame_save_roundtrip": flame.save_roundtrip,
    })


def oracle_sql() -> dict[str, str]:
    return _window_order({
        "pagerank_fixed": pagerank_fixed_sql(iters=5),
        "pagerank_converged": pagerank_converged_sql(),
        "doc_keywords": O.sql_doc_keywords(stem=True),
        "related_terms": O.sql_related_terms(stem=True),
        "text_bigrams": O.sql_text_bigrams(stem=True),
        "transcripts": O.sql_transcripts(),
        "docs_stable_ids": O.sql_docs(stem=True),
        "term_doc_tf": O.sql_term_doc_tf(stem=True),
        "term_stats": O.sql_term_stats(stem=True),
        "doc_stats": O.sql_doc_stats(stem=True),
        "bm25_topk": O.sql_bm25_topk(stem=True),
        "bm25_topk_filtered_wand": O.sql_bm25_topk(
            stem=True, doc_filter_sql="fd.role = 'user'"),
        "bm25_topk_tombstoned_wand": O.sql_bm25_topk(
            stem=True, doc_filter_sql="fd.doc_id % 13 <> 0"),
        "bm25_topk_collapsed": O.sql_bm25_collapsed(stem=True),
        "bm25_topk_wand": O.sql_bm25_topk(stem=True),
        # (uses AND_QUERY_SET — rare/common term mixes where the
        # intersection is a strict subset of the union)
        "bm25_topk_and_wand": O.sql_bm25_topk_conjunctive(stem=True),
        "bm25_topk_hydrated": O.sql_bm25_topk_hydrated(stem=True),
        "term_positions": O.sql_term_positions(stem=True),
        # round 5: the packed positional family reuses the row-layout
        # oracles — the physical format must be invisible to the answer
        "positions_packed_roundtrip": O.sql_term_positions(stem=True),
        "positions_archive_roundtrip": O.sql_term_positions(stem=True),
        "phrase_match_packed": O.sql_phrase_match(stem=True),
        "bm25_topk_proximity_wand": O.sql_bm25_topk_proximity(stem=True),
        "span_near_match": O.sql_span_near_match(stem=True),
        "packed_roundtrip": O.sql_term_doc_tf_dl(stem=True),
        "packed_pfd_roundtrip": O.sql_term_doc_tf_dl(stem=True),
        "index_archive_roundtrip": O.sql_term_doc_tf_dl(stem=True),
        "index_lineage": O.sql_index_lineage(shard_span=128, stem=True),
        "packed_incremental_roundtrip": O.sql_term_doc_tf_dl(stem=True),
        # same postings oracle minus the deterministic tombstone slice
        # (dl keeps its pre-delete value: a doc's length never depends on
        # OTHER docs, and the packed dls are per-posting copies)
        "packed_purge_roundtrip": (O.sql_term_doc_tf_dl(stem=True)
                                   + "\nWHERE tf.doc_id % 13 <> 0"),
        # the physically-purged corpus: tf/df/n_docs/avgdl all over the
        # survivors (unlike the tombstoned entry's global-stats mask)
        "index_purge_roundtrip": O.sql_bm25_topk(
            stem=True, purge_where="doc_id % 13 <> 0"),
        "streaming_index_roundtrip": O.sql_term_doc_tf_dl(stem=True),
        "streaming_positions_roundtrip": O.sql_term_positions(stem=True),
        "term_doc_tf_nostem": O.sql_term_doc_tf(stem=False),
        "tfidf_blend_topk": O.sql_tfidf_blend_topk(stem=True),
        "term_suggestions": O.sql_term_suggestions(stem=True),
        "tfidf_rerank_topk": O.sql_tfidf_rerank_topk(stem=True),
        "bm25_topk_nostem": O.sql_bm25_topk(stem=False),
        # the salted physical plan must produce the identical logical result
        "flame_groupby_salted": (
            "SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt, "
            "sum(l_quantity) AS sum_qty FROM lineitem "
            "GROUP BY l_returnflag, l_linestatus"),
        "flame_parallelize": (
            "SELECT * FROM (VALUES " + ", ".join(
                f"({i}, '{w}')" for i, w in enumerate(flame.PARALLELIZE_DATA))
            + ") AS t(pos, value)"),
        "flame_scan_filter_project": (
            "SELECT l_orderkey, l_partkey, "
            "round(l_extendedprice * (1 - l_discount), 4) AS revenue "
            "FROM lineitem WHERE l_quantity > 45"),
        "flame_wordcount": (
            "WITH toks AS (SELECT unnest(string_split_regex(trim(regexp_replace("
            "lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS word FROM documents) "
            "SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM toks "
            "WHERE word <> '' GROUP BY word"),
        "flame_distinct": "SELECT DISTINCT o_custkey FROM orders",
        "flame_join": (
            "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders, "
            "round(sum(o_totalprice), 2) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY c_mktsegment"),
        "flame_fold": (
            "SELECT sum(l_quantity) AS sum_qty, max(l_extendedprice) AS max_price, "
            "min(l_extendedprice) AS min_price, CAST(count(*) AS BIGINT) AS cnt "
            "FROM lineitem"),
        "flame_groupby": (
            "SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt, "
            "sum(l_quantity) AS sum_qty FROM lineitem "
            "GROUP BY l_returnflag, l_linestatus"),
        "flame_intersection": (
            "SELECT c_custkey AS custkey FROM customer "
            "INTERSECT SELECT o_custkey AS custkey FROM orders"),
        "flame_cogroup": (
            "WITH a AS (SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders "
            "FROM orders GROUP BY 1), "
            "b AS (SELECT c_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_cust "
            "FROM customer GROUP BY 1) "
            "SELECT coalesce(a.custkey, b.custkey) AS custkey, "
            "CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders, "
            "CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust "
            "FROM a FULL OUTER JOIN b ON a.custkey = b.custkey"),
        "flame_sample": (
            "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
            "WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || "
            "CAST(l_linenumber AS VARCHAR)), 1, 2) < '1a'"),
        "flame_take": ("SELECT o_orderkey, o_totalprice FROM orders "
                       "ORDER BY o_orderkey LIMIT 10"),
        "flame_count": "SELECT CAST(count(*) AS BIGINT) AS cnt FROM lineitem",
        "flame_mappartitions": (
            "SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) "
            "AS n_tokens FROM documents"),
        # lifecycle roundtrip returns the saved copy of the same aggregate
        "flame_save_roundtrip": (
            "SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt, "
            "sum(l_quantity) AS sum_qty FROM lineitem "
            "GROUP BY l_returnflag, l_linestatus"),
    })
