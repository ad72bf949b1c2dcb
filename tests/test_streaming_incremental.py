"""Incremental streaming storage guarantees: a micro-batch writes O(batch)
segment bytes (not a rewrite of the whole index), superseded generation
files are garbage-collected, and a foreign checkpoint over an existing
index root fails loudly instead of silently skipping batches."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts_pdf)
from mini_distributed_search_engine_spark.streaming.indexing import (
    StreamingIndexer, read_transcript_stream)

SPAN = 64


def _dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


@pytest.fixture(scope="module")
def roots(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream_inc")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def test_small_batch_writes_small_bytes_and_prunes(spark, roots):
    pdf = synthesize_transcripts_pdf(155, seed=321)   # 620 turns
    src = roots / "in"
    src.mkdir()
    n = len(pdf)
    big, small = pdf.iloc[:n - 20], pdf.iloc[n - 20:]
    spark.createDataFrame(big).coalesce(1).write.parquet(str(src / "p0.parquet"))
    spark.createDataFrame(small).coalesce(1).write.parquet(str(src / "p1.parquet"))

    idx_root = roots / "idx"
    indexer = StreamingIndexer(spark, str(idx_root), shard_span=SPAN)
    q = indexer.start(read_transcript_stream(spark, str(src)))
    q.awaitTermination(120)

    meta = indexer._meta()
    assert meta["generation"] == 2 and meta["n_docs"] == n
    man = meta["manifest"]
    assert [e["path"] for e in man] == ["segs_g1", "segs_g2"]
    # batch 2 indexed 20/620 turns: its segment file must be a small
    # fraction of the bulk file, not a rewritten copy of the index
    b1 = _dir_bytes(idx_root / "segs_g1")
    b2 = _dir_bytes(idx_root / "segs_g2")
    assert b2 < b1 / 3, (b1, b2)
    # only manifest-referenced segment dirs remain on disk; only the
    # current generation's totals remain
    seg_dirs = sorted(p.name for p in idx_root.glob("segs_g*"))
    assert seg_dirs == ["segs_g1", "segs_g2"]
    tot_dirs = sorted(p.name for p in idx_root.glob("totals_g*"))
    assert tot_dirs == ["totals_g2"]
    # the small batch's entry starts at the spliced boundary shard
    assert man[1]["start_shard"] == (n - 20) // SPAN


def test_foreign_checkpoint_fails_loudly(spark, roots):
    idx_root = roots / "idx"
    indexer = StreamingIndexer(spark, str(idx_root), shard_span=SPAN)
    indexer._checkpoint_id = "file:///somewhere/else/_checkpoint"
    batch = spark.createDataFrame(synthesize_transcripts_pdf(3, seed=9))
    with pytest.raises(RuntimeError, match="checkpoint"):
        indexer.process_batch(batch, 0)
    # and the index was not touched
    assert indexer._meta()["generation"] == 2


def test_same_checkpoint_restart_skips_batches(spark, roots):
    idx_root = roots / "idx"
    indexer = StreamingIndexer(spark, str(idx_root), shard_span=SPAN)
    before = indexer._meta()
    q = indexer.start(read_transcript_stream(spark, str(roots / "in")))
    q.awaitTermination(120)
    after = indexer._meta()
    assert after["n_docs"] == before["n_docs"]
    assert after["generation"] == before["generation"]


def _lineage_row(spark, root: Path, run_id: str):
    rows = (spark.read.parquet(str(root / "_lineage"))
            .where(f"run_id = '{run_id}'").collect())
    assert len(rows) == 1, rows
    return rows[0]


def test_streaming_lineage_rows(spark, roots):
    """Each committed batch leaves one lineage row with its byte cost."""
    lineage = spark.read.parquet(str(roots / "idx" / "_lineage")).collect()
    stages = {r["run_id"]: r for r in lineage}
    assert {"batch_0", "batch_1"} <= set(stages)
    assert all(r["stage"] == "stream_append" for r in lineage)
    assert stages["batch_0"]["doc_count"] == 600
    assert stages["batch_1"]["doc_count"] == 20
    assert 0 < stages["batch_1"]["bytes"] < stages["batch_0"]["bytes"]
    assert all(r["wall_ms"] > 0 for r in lineage)

    # on a positional root each step also writes a pos_gN directory: the
    # batch and compact rows count the bytes of both directories
    pos_root = roots / "idx_pos"
    indexer = StreamingIndexer(spark, str(pos_root), shard_span=SPAN,
                               with_positions=True)
    pdf = synthesize_transcripts_pdf(30, seed=55)    # 120 turns
    for i, (a, b) in enumerate([(0, 100), (100, len(pdf))]):
        indexer.process_batch(spark.createDataFrame(pdf.iloc[a:b]), i)
        entry = indexer._meta()["manifest"][-1]
        assert entry["pos_path"].startswith("pos_g")
        assert _lineage_row(spark, pos_root, f"batch_{i}")["bytes"] == (
            _dir_bytes(pos_root / entry["path"])
            + _dir_bytes(pos_root / entry["pos_path"]))
    res = indexer.compact(tombstones=[3, 50])
    meta = indexer._meta()
    entry = meta["manifest"][0]
    row = _lineage_row(spark, pos_root, f"compact_g{meta['generation']}")
    assert meta["n_docs"] == len(pdf) - 2
    assert row["doc_count"] == meta["n_docs"]
    assert row["bytes"] == res["bytes"] == (
        _dir_bytes(pos_root / entry["path"])
        + _dir_bytes(pos_root / entry["pos_path"]))


def test_compaction_consolidates_manifest(spark, roots):
    """compact(): one manifest entry / one dir after N batches, byte-exact
    postings parity, no-op when already compact, and appends keep working
    against the compacted entry (boundary splice)."""
    from mini_distributed_search_engine_spark.index.packed import unpack_to_rows

    pdf = synthesize_transcripts_pdf(100, seed=77)   # 400 turns
    src = roots / "in2"
    src.mkdir()
    n = len(pdf)
    cuts = [0, n - 60, n - 40, n - 15, n]
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        (spark.createDataFrame(pdf.iloc[a:b]).coalesce(1)
         .write.parquet(str(src / f"p{i}.parquet")))

    idx_root = roots / "idx2"
    indexer = StreamingIndexer(spark, str(idx_root), shard_span=SPAN)
    q = indexer.start(read_transcript_stream(spark, str(src)))
    q.awaitTermination(180)

    meta = indexer._meta()
    assert len(meta["manifest"]) > 1, meta["manifest"]
    def snapshot():
        return {(r["term"], r["doc_id"]): (r["tf"], r["dl"])
                for r in unpack_to_rows(indexer.packed()).collect()}
    before = snapshot()

    # plant a crash-orphan (unreferenced, committed-range gen): compact()
    # must sweep it — but an above-generation dir (an in-flight append's
    # not-yet-committed output) must survive the sweep
    orphan = idx_root / "segs_g0"
    orphan.mkdir()
    (orphan / "junk").write_text("x")
    inflight = idx_root / "segs_g999"
    inflight.mkdir()
    (inflight / "part").write_text("y")

    res = indexer.compact()
    assert not orphan.exists()
    assert inflight.exists()
    shutil.rmtree(inflight)
    assert res["compacted"] and res["entries_before"] == len(meta["manifest"])
    meta2 = indexer._meta()
    assert [e["start_shard"] for e in meta2["manifest"]] == [0]
    # only the compacted segment dir and current totals remain on disk
    assert sorted(p.name for p in idx_root.glob("segs_g*")) == \
        [meta2["manifest"][0]["path"]]
    assert sorted(p.name for p in idx_root.glob("totals_g*")) == \
        [f"totals_g{meta2['generation']}"]
    assert snapshot() == before
    # compaction leaves a lineage row with its cost: the live doc count
    # and the bytes of the directory it wrote
    lin = spark.read.parquet(str(idx_root / "_lineage"))
    assert lin.where("stage = 'compact'").count() == 1
    row = _lineage_row(spark, idx_root, f"compact_g{meta2['generation']}")
    assert row["doc_count"] == meta2["n_docs"] == n
    assert row["bytes"] == _dir_bytes(idx_root / meta2["manifest"][0]["path"])

    assert indexer.compact() == {"compacted": False, "entries": 1}

    # append after compaction: splice against the compacted entry
    extra = spark.createDataFrame(synthesize_transcripts_pdf(4, seed=901))
    indexer.process_batch(extra, batch_id=99)
    after = snapshot()
    assert len(after) > len(before)
    assert all(after[k] == v for k, v in before.items())
    assert indexer._meta()["n_docs"] == n + 16
