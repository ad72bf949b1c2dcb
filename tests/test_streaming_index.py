"""Streaming index ingestion parity: draining a transcript file stream
through the foreachBatch incremental-append sink must produce the same
postings and the same query results as a one-shot batch build over the
concatenated input."""

from __future__ import annotations

import shutil
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest
from pyspark.sql import DataFrameWriter

from mini_distributed_search_engine_spark.index.build import build_index
from mini_distributed_search_engine_spark.index.packed import (
    build_packed_postings, unpack_to_rows)
from mini_distributed_search_engine_spark.index.positions import (
    unpack_positions)
from mini_distributed_search_engine_spark.query import wand
from mini_distributed_search_engine_spark.query.bm25 import Query
from mini_distributed_search_engine_spark.query.wand import wand_topk
from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts_pdf)
from mini_distributed_search_engine_spark.streaming.indexing import (
    StreamingIndexer, read_transcript_stream)
from ranked_reference import analyzed_docs, ranked_scores

SPAN = 64
QUERIES = (Query("s1", "apple banana", k=30),
           Query("s2", "spark shuffle partition", k=30))


@pytest.fixture(scope="module")
def stream_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream_idx")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def test_stream_ingest_matches_batch_build(spark, stream_root):
    pdf = synthesize_transcripts_pdf(45, seed=888)  # 180 turns
    # three files, split on conv boundaries, in conv order (append-only);
    # maxFilesPerTrigger=1 -> three micro-batches
    src = Path(stream_root) / "in"
    src.mkdir()
    cuts = [(0, 60), (60, 120), (120, 180)]
    for i, (lo, hi) in enumerate(cuts):
        spark.createDataFrame(pdf.iloc[lo:hi]).coalesce(1).write.parquet(
            str(src / f"part{i}.parquet"))

    idx_root = Path(stream_root) / "idx"
    indexer = StreamingIndexer(spark, str(idx_root), shard_span=SPAN)
    q = indexer.start(read_transcript_stream(spark, str(src)))
    q.awaitTermination(120)

    meta = indexer._meta()
    assert meta["n_docs"] == 180 and meta["generation"] == 3

    # batch reference build over the same rows
    idx = build_index(spark.createDataFrame(pdf))
    avgdl = float(idx.doc_stats.collect()[0]["avgdl"])
    batch_packed = build_packed_postings(idx.term_doc_tf, avgdl,
                                         shard_span=SPAN)

    rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert rows(unpack_to_rows(indexer.packed())) == \
        rows(unpack_to_rows(batch_packed))

    n, stream_avgdl = indexer.corpus_stats()
    assert n == 180 and stream_avgdl == pytest.approx(avgdl, rel=1e-12)

    a = rows(wand_topk(spark, indexer.packed(), indexer.doc_stats_df(),
                       queries=QUERIES))
    b = rows(wand_topk(spark, batch_packed, idx.doc_stats, queries=QUERIES))
    assert a == b and len(a) > 0


def test_stream_restart_is_idempotent(spark, stream_root):
    """Re-running start() over the drained source must not re-append."""
    idx_root = Path(stream_root) / "idx"
    indexer = StreamingIndexer(spark, str(idx_root), shard_span=SPAN)
    before = indexer._meta()
    q = indexer.start(read_transcript_stream(
        spark, str(Path(stream_root) / "in")))
    q.awaitTermination(120)
    after = indexer._meta()
    assert after["n_docs"] == before["n_docs"]
    assert after["generation"] == before["generation"]


def test_compact_with_tombstones_purges_and_fixes_stats(spark, stream_root):
    """compact(tombstones=...) — the purge half of the LSM delete
    lifecycle: postings vanish, totals rebuild, corpus stats shrink by
    exactly the deleted docs' (count, dl). Runs last: it rewrites the
    shared module root."""
    import collections

    idx_root = Path(stream_root) / "idx"
    indexer = StreamingIndexer(spark, str(idx_root), shard_span=SPAN)
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    before = rows(unpack_to_rows(indexer.packed()))
    n0, avgdl0 = indexer.corpus_stats()
    tomb = [0, 5, 64]  # two docs in shard 0, one in shard 1
    dl_by_doc = {r[1]: r[3] for r in before}
    assert all(t in dl_by_doc for t in tomb), "fixture docs must exist"

    res = indexer.compact(tombstones=tomb)
    assert res["compacted"] and res["purged_docs"] == len(tomb)

    after = rows(unpack_to_rows(indexer.packed()))
    assert after == [r for r in before if r[1] not in set(tomb)]

    n1, avgdl1 = indexer.corpus_stats()
    assert n1 == n0 - len(tomb)
    want_sum = round(n0 * avgdl0) - sum(dl_by_doc[t] for t in tomb)
    assert avgdl1 == pytest.approx(want_sum / n1, rel=1e-12)

    # totals (the idf input) equal the surviving per-term posting counts
    cnt = collections.Counter(r[0] for r in after)
    gdf = {r["term"]: r["global_df"] for r in
           indexer.packed().select("term", "global_df").distinct().collect()}
    assert gdf == dict(cnt)

    # re-compacting with the same tombstones finds nothing left to purge
    # and SKIPS the O(index) rewrite (single-entry manifest, zero hits)
    res2 = indexer.compact(tombstones=tomb)
    assert res2 == {"compacted": False, "entries": 1, "purged_docs": 0}
    assert rows(unpack_to_rows(indexer.packed())) == after

    # id space stays monotone across the purge: the recorded high-water
    # mark must be the pre-purge doc count, not the shrunken live count
    assert int(indexer._meta()["next_doc_id"]) == n0

    # append AFTER the purge: new docIDs must continue from the monotone
    # high-water mark, never reusing a purged or live id (reuse would
    # interleave posting runs — the boundary splice fails loudly — or
    # resurrect engine-side tombstones recorded against the old id)
    import datetime
    late = spark.createDataFrame(
        [("convzzz00", i, "user", "apple banana quarantine epilogue",
          "search", datetime.datetime(2024, 6, 1, 0, 0, i))
         for i in range(4)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    late.coalesce(1).write.parquet(
        str(Path(stream_root) / "in" / "part_late.parquet"))
    q = indexer.start(read_transcript_stream(
        spark, str(Path(stream_root) / "in")))
    q.awaitTermination(120)
    meta = indexer._meta()
    assert int(meta["next_doc_id"]) == n0 + 4
    assert int(meta["n_docs"]) == n1 + 4
    appended = rows(unpack_to_rows(indexer.packed()))
    new_ids = {r[1] for r in appended} - {r[1] for r in after}
    assert new_ids == {n0, n0 + 1, n0 + 2, n0 + 3}


def test_stream_with_positions_matches_batch(spark, tmp_path):
    """with_positions=True maintains the packed positional index beside
    the TF segments: after draining the stream, positions_packed()
    unpacks to exactly the batch-built positional rows, serves phrase /
    span / proximity, and survives a tombstone compaction."""
    from pyspark.sql import functions as F

    from mini_distributed_search_engine_spark.functions.analyzer import (
        term_positions_pandas)
    from mini_distributed_search_engine_spark.index.build import (
        with_stable_doc_ids)
    from mini_distributed_search_engine_spark.index.positions import (
        unpack_positions)
    from mini_distributed_search_engine_spark.query.phrase import (
        phrase_match_packed)
    from mini_distributed_search_engine_spark.query.proximity import (
        proximity_scores_pandas, wand_topk_proximity)
    from mini_distributed_search_engine_spark.query.span import (
        span_near_match)

    pdf = synthesize_transcripts_pdf(45, seed=888)
    src = tmp_path / "in"
    src.mkdir()
    for i, (lo, hi) in enumerate([(0, 60), (60, 120), (120, 180)]):
        spark.createDataFrame(pdf.iloc[lo:hi]).coalesce(1).write.parquet(
            str(src / f"part{i}.parquet"))
    idx_root = tmp_path / "idx"
    indexer = StreamingIndexer(spark, str(idx_root), shard_span=SPAN,
                               with_positions=True)
    q = indexer.start(read_transcript_stream(spark, str(src)))
    q.awaitTermination(120)

    docs = with_stable_doc_ids(spark.createDataFrame(pdf))
    pos_rows = term_positions_pandas(docs, "text", stem=True).cache()
    want = sorted((r["doc_id"], r["term"], r["pos"])
                  for r in pos_rows.collect())
    got = sorted((r["doc_id"], r["term"], r["pos"])
                 for r in unpack_positions(
                     indexer.positions_packed()).collect())
    assert got == want

    # proximity over the streamed pair == the pure-Python reference over
    # the batch docs
    keyed = lambda df: sorted((r["query_id"], r["rank"], r["doc_id"])
                              for r in df.collect())
    assert keyed(wand_topk_proximity(
        spark, indexer.packed(), indexer.positions_packed(),
        indexer.doc_stats_df(), queries=QUERIES)) == [
            r[:3] for r in ranked_scores(analyzed_docs(docs), QUERIES,
                                         scorer=proximity_scores_pandas)]
    n_phrase = len(phrase_match_packed(
        spark, indexer.positions_packed(),
        (Query("p", "apple banana", k=50),)).collect())

    # tombstone compaction purges both sides coherently
    tomb = [5, 70, 71, 130]
    rep = indexer.compact(tombstones=tomb)
    assert rep["compacted"] and rep["purged_docs"] > 0
    got2 = sorted((r["doc_id"], r["term"], r["pos"])
                  for r in unpack_positions(
                      indexer.positions_packed()).collect())
    want2 = sorted((r["doc_id"], r["term"], r["pos"]) for r in
                   pos_rows.where(~F.col("doc_id").isin(tomb)).collect())
    assert got2 == want2
    assert len(indexer._manifest(indexer._meta())) == 1
    # span still serves post-compaction
    res = span_near_match(spark, indexer.positions_packed(),
                          (Query("n", "apple banana", k=50),),
                          window=10_000).collect()
    assert all(r["doc_id"] not in set(tomb) for r in res)
    assert n_phrase >= 0  # phrase path exercised pre-compaction
    pos_rows.unpersist()


_COMPACT_CRASHES = ("after_segs_write", "after_pos_write", "after_meta_flip")


def _stream_state(ix: StreamingIndexer) -> dict:
    """What a compaction must leave: the TF and positional rows, the
    per-segment df/global_df, the meta corpus stats and id high-water
    mark, the set of segment/totals directories, and one lineage row per
    committed append and compaction (its deterministic columns)."""
    meta = ix._meta()
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    return {
        "tf": rows(unpack_to_rows(ix.packed())),
        "df": rows(ix.packed().select("term", "shard_id", "df",
                                      "global_df")),
        "pos": rows(unpack_positions(ix.positions_packed())),
        "meta": {k: meta[k] for k in ("n_docs", "sum_dl", "next_doc_id")},
        "dirs": sorted(p.name for p in ix.root.iterdir()
                       if p.name.startswith(("segs_g", "pos_g", "totals_g"))),
        "lineage": rows(ix.spark.read.parquet(str(ix.root / "_lineage"))
                        .select("shard_id", "stage", "doc_count")),
    }


@pytest.fixture(scope="module")
def compact_crashes(spark, tmp_path_factory):
    """A positional stream root with two manifest entries (the second
    batch splices the boundary shard), compacted once with tombstones
    while the root is copied at three points: after the segs_g write;
    after the pos_g write, before the _meta.json flip; after the flip,
    before GC. A copy is the on-disk state a process killed
    there leaves behind. Each copy is healed by the same
    compact(tombstones=...) call, in a thread pool. Yields the healed
    state per crash point and the clean compaction's state."""
    base = tmp_path_factory.mktemp("compact_crash")
    root = base / "root"
    pdf = synthesize_transcripts_pdf(12, seed=21)  # 48 turns
    ix = StreamingIndexer(spark, str(root), shard_span=16,
                          with_positions=True)
    for i, (lo, hi) in enumerate([(0, 20), (20, 48)]):
        ix.process_batch(spark.createDataFrame(pdf.iloc[lo:hi]), i)
    assert len(ix._manifest(ix._meta())) == 2
    tomb = [3, 17, 19, 30, 45]
    copies = {}

    def snap(point: str) -> None:
        copies[point] = base / point
        shutil.copytree(root, copies[point])

    write_parquet = DataFrameWriter.parquet
    save_meta = StreamingIndexer._save_meta

    def parquet(writer, path, *args, **kwargs):
        write_parquet(writer, path, *args, **kwargs)
        if Path(path).name.startswith("segs_g"):
            snap("after_segs_write")
        elif Path(path).name.startswith("pos_g"):
            snap("after_pos_write")

    def flip(indexer, meta):
        save_meta(indexer, meta)
        snap("after_meta_flip")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", parquet)
        mp.setattr(StreamingIndexer, "_save_meta", flip)
        assert ix.compact(tombstones=tomb)["purged_docs"] == len(tomb)
    assert set(copies) == set(_COMPACT_CRASHES)
    clean = _stream_state(ix)
    assert not {r[1] for r in clean["tf"]} & set(tomb)

    def heal(copy: Path) -> dict:
        healed = StreamingIndexer(spark, str(copy), shard_span=16)
        healed.compact(tombstones=tomb)
        return _stream_state(healed)

    with ThreadPoolExecutor(3) as pool:
        healed = dict(zip(copies, pool.map(heal, copies.values(),
                                           timeout=600)))
    yield healed, clean
    shutil.rmtree(base, ignore_errors=True)


@pytest.mark.parametrize("point", _COMPACT_CRASHES)
def test_compact_crash_matrix(compact_crashes, point):
    """A compact(tombstones=...) killed after any of its writes or after
    its meta flip is healed by the same call: rows, stats, directories and
    lineage equal a clean compaction's."""
    healed, clean = compact_crashes
    assert healed[point] == clean


def test_stream_positions_flag_mismatch_raises(spark, tmp_path):
    """Enabling with_positions on a root whose manifest lacks positions
    must fail loudly, not silently serve a partial positional index."""
    pdf = synthesize_transcripts_pdf(10, seed=4)
    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        str(src / "part0.parquet"))
    idx_root = tmp_path / "idx"
    indexer = StreamingIndexer(spark, str(idx_root), shard_span=SPAN)
    q = indexer.start(read_transcript_stream(spark, str(src)))
    q.awaitTermination(120)
    with pytest.raises(ValueError, match="pos_path"):
        indexer.positions_packed()
    spark.createDataFrame(pdf.assign(conv_id=pdf["conv_id"] + "zz")) \
        .coalesce(1).write.parquet(str(src / "part1.parquet"))
    indexer2 = StreamingIndexer(spark, str(idx_root), shard_span=SPAN,
                                with_positions=True)
    q2 = indexer2.start(read_transcript_stream(spark, str(src)))
    # the guard surfaces as a failed batch -> streaming query exception
    with pytest.raises(Exception, match="without positions"):
        q2.awaitTermination()


def test_stream_positions_survive_flagless_reopen(spark, tmp_path):
    """Positions are a ROOT property: a later writer that forgets
    with_positions=True must keep maintaining (not GC) the positional
    side — the silent-data-loss case from the round-5 review."""
    from mini_distributed_search_engine_spark.index.positions import (
        unpack_positions)
    pdf = synthesize_transcripts_pdf(20, seed=77)
    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(pdf.iloc[:40]).coalesce(1).write.parquet(
        str(src / "part0.parquet"))
    idx_root = tmp_path / "idx"
    first = StreamingIndexer(spark, str(idx_root), shard_span=SPAN,
                             with_positions=True)
    q = first.start(read_transcript_stream(spark, str(src)))
    q.awaitTermination(120)
    # second writer, flag FORGOTTEN (default False), appends more data
    spark.createDataFrame(pdf.iloc[40:].assign(
        conv_id=pdf.iloc[40:]["conv_id"] + "zz")).coalesce(1) \
        .write.parquet(str(src / "part1.parquet"))
    second = StreamingIndexer(spark, str(idx_root), shard_span=SPAN)
    q2 = second.start(read_transcript_stream(spark, str(src)))
    q2.awaitTermination(120)
    man = second._manifest(second._meta())
    assert all("pos_path" in e for e in man)   # adopted, not dropped
    # the positional index covers BOTH writers' docs
    n_docs_with_pos = (unpack_positions(second.positions_packed())
                       .select("doc_id").distinct().count())
    assert n_docs_with_pos == second._meta()["n_docs"]


def test_append_killed_after_meta_flip_keeps_its_lineage(spark, tmp_path):
    """An append killed right after its _meta.json flip is committed, and
    its replay is skipped by the batch-id mark: its lineage row must
    already be there, exactly once."""
    pdf = synthesize_transcripts_pdf(6, seed=31)  # 24 turns
    root = tmp_path / "idx"
    ix = StreamingIndexer(spark, str(root), shard_span=16)
    ix.process_batch(spark.createDataFrame(pdf.iloc[:12]), 0)
    batch1 = spark.createDataFrame(pdf.iloc[12:])
    save_meta = StreamingIndexer._save_meta

    def killed(indexer, meta):
        save_meta(indexer, meta)
        raise RuntimeError("killed after the meta flip")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(StreamingIndexer, "_save_meta", killed)
        with pytest.raises(RuntimeError, match="killed"):
            ix.process_batch(batch1, 1)
    reopened = StreamingIndexer(spark, str(root), shard_span=16)
    reopened.process_batch(batch1, 1)  # the redelivery
    meta = reopened._meta()
    assert meta["batch_id"] == 1 and meta["n_docs"] == len(pdf)
    run_ids = [r["run_id"] for r in
               spark.read.parquet(str(root / "_lineage")).collect()]
    assert sorted(run_ids) == ["batch_0", "batch_1"]


@pytest.fixture(scope="module")
def served_root(spark, tmp_path_factory):
    """A positional stream root with two manifest entries, and the turns
    of a third batch that continues it."""
    base = tmp_path_factory.mktemp("served")
    pdf = synthesize_transcripts_pdf(12, seed=21)  # 48 turns
    ix = StreamingIndexer(spark, str(base / "root"), shard_span=16,
                          with_positions=True)
    for i, (lo, hi) in enumerate([(0, 20), (20, 36)]):
        ix.process_batch(spark.createDataFrame(pdf.iloc[lo:hi]), i)
    yield base / "root", pdf.iloc[36:]
    shutil.rmtree(base, ignore_errors=True)


def _plan_nodes(plan):
    """Node names of a physical plan down to its cache scans (a cached
    relation's own build plan is not part of the query's work)."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        yield from _plan_nodes(plan.inputPlan())
        return
    yield plan.nodeName()
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_warm_stream_read_is_one_exchange_free_job(spark, served_root,
                                                   monkeypatch):
    """Over the served cache a warm wand_topk is one Spark job that runs
    one stage: the candidate plan scans the cache with no exchange. The
    proximity kernel's cogroup of the two served frames is exchange-free
    too (co-partitioned on shard_id)."""
    from mini_distributed_search_engine_spark.query import proximity

    ix = StreamingIndexer(spark, str(served_root[0]), shard_span=16)
    rows = lambda df: sorted(tuple(r) for r in df.collect())

    def read():
        return wand_topk(spark, ix.packed(), ix.doc_stats_df(),
                         queries=QUERIES, corpus_stats=ix.corpus_stats())

    cold = rows(read())  # builds the cache
    plans = []

    def spy(real):
        def rank(spark_, cands, *args):
            plans.append(list(_plan_nodes(
                cands._jdf.queryExecution().executedPlan())))
            return real(spark_, cands, *args)
        return rank

    monkeypatch.setattr(wand, "_driver_rank", spy(wand._driver_rank))
    sc = spark.sparkContext
    sc.setJobGroup("warm_stream_read", "one warm streaming read")
    try:
        warm = rows(read())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("warm_stream_read")
    # the cache build's shuffle stays in the lineage as a skipped stage
    ran = [s for j in jobs for s in st.getJobInfo(j).stageIds
           if st.getStageInfo(s) and st.getStageInfo(s).numCompletedTasks]
    assert len(jobs) == 1 and len(ran) == 1, (jobs, ran)
    assert warm == cold and warm
    assert "InMemoryTableScan" in plans[0], plans[0]
    assert not [n for n in plans[0] if "Exchange" in n], plans[0]

    proximity.wand_topk_proximity(
        spark, ix.packed(), ix.positions_packed(), ix.doc_stats_df(),
        queries=QUERIES, corpus_stats=ix.corpus_stats())
    assert plans[1].count("InMemoryTableScan") == 2, plans[1]
    assert not [n for n in plans[1] if "Exchange" in n], plans[1]
    ix.unpersist()


def test_served_frames_follow_each_commit(spark, served_root, tmp_path):
    """packed() / positions_packed() / doc_stats_df() are memoized per
    committed generation: repeated reads return the same frames; after an
    append, a tombstone compaction, or another writer's commit they are
    new frames equal to a fresh indexer's, and the superseded ones are no
    longer cached."""
    root = tmp_path / "root"
    shutil.copytree(served_root[0], root)
    ix = StreamingIndexer(spark, str(root), shard_span=16)
    rows = lambda df: sorted(tuple(r) for r in df.collect())

    def served():
        return ix.packed(), ix.positions_packed(), ix.doc_stats_df()

    def fresh_rows():
        fresh = StreamingIndexer(spark, str(root), shard_span=16)
        try:
            return [rows(f) for f in (fresh.packed(), fresh.positions_packed(),
                                      fresh.doc_stats_df())]
        finally:
            fresh.unpersist()

    first = served()
    assert all(a is b for a, b in zip(first, served()))
    assert first[0].is_cached and first[1].is_cached
    seen = [rows(f) for f in first]
    assert seen == fresh_rows()
    for commit in (
            lambda: ix.process_batch(
                spark.createDataFrame(served_root[1]), 2),
            lambda: ix.compact(tombstones=[3, 17, 40]),
            lambda: StreamingIndexer(spark, str(root), shard_span=16)
            .compact(tombstones=[5])):
        before = served()
        rows(before[0])  # a read materializes the cache
        commit()
        after = served()
        assert not before[0].is_cached and not before[1].is_cached
        assert after[0].is_cached and after[1].is_cached
        now = [rows(f) for f in after]
        assert now == fresh_rows() and now != seen
        seen = now
    ix.unpersist()


def test_racing_readers_share_one_build(spark, served_root, monkeypatch):
    """Readers racing on a cold memo build each served frame once and all
    get that frame: a lost update would build (and cache) it twice."""
    ix = StreamingIndexer(spark, str(served_root[0]), shard_span=16)
    builds = []
    build = StreamingIndexer._build_packed

    def counted(indexer, meta):
        builds.append(meta["generation"])
        return build(indexer, meta)

    monkeypatch.setattr(StreamingIndexer, "_build_packed", counted)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futs = [pool.submit(lambda: (ix.packed(), ix.positions_packed()))
                    for _ in range(32)]
            got = [f.result(timeout=120) for f in futs]
    finally:
        sys.setswitchinterval(interval)
    assert len(builds) == 1
    assert len({id(p) for p, _ in got}) == 1
    assert len({id(q) for _, q in got}) == 1
    ix.unpersist()


def test_compact_builds_no_cache(spark, served_root, tmp_path, monkeypatch):
    """compact() reads the manifest through the uncached segment union:
    it never builds a served frame."""
    root = tmp_path / "root"
    shutil.copytree(served_root[0], root)
    df_type = type(spark.range(1))
    real_cache, cached = df_type.cache, []

    def cache(df):
        cached.append(df)
        return real_cache(df)

    monkeypatch.setattr(df_type, "cache", cache)
    ix = StreamingIndexer(spark, str(root), shard_span=16)
    assert ix.compact(tombstones=[3, 30])["compacted"]
    assert cached == [] and ix._memo == (None, {})
