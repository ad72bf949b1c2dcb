"""Checkpoint/resume: killed-after-stage-N rebuild must skip committed
stages and produce an index identical to a fresh build (SURVEY.md §5)."""

from __future__ import annotations

import itertools
import shutil
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

from mini_distributed_search_engine_spark.index.build import build_index
from mini_distributed_search_engine_spark.index.packed import unpack_to_rows
from mini_distributed_search_engine_spark.plans import pipeline
from mini_distributed_search_engine_spark.plans.pipeline import StagedIndexBuild
from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts, synthesize_transcripts_pdf)


def test_pipeline_resume(spark, tmp_path):
    tr = spark.createDataFrame(synthesize_transcripts_pdf(30, seed=5))
    root = tmp_path / "idx"
    p1 = StagedIndexBuild(spark, str(root), run_id="run1")
    s1 = p1.run(tr, shard_span=64, merge_factor=4)
    assert set(s1.values()) == {"built"}
    baseline = {(r["term"], r["doc_id"]): (r["tf"], r["dl"])
                for r in unpack_to_rows(p1.read("merged", "data")).collect()}

    # simulated kill after 'stats': later stages lose their commits
    shutil.rmtree(root / "packed")
    shutil.rmtree(root / "merged")
    p2 = StagedIndexBuild(spark, str(root), run_id="run2")
    s2 = p2.run(tr, shard_span=64, merge_factor=4)
    assert s2 == {"docs": "skipped", "term_doc_tf": "skipped",
                  "stats": "skipped", "packed": "built", "merged": "built"}
    resumed = {(r["term"], r["doc_id"]): (r["tf"], r["dl"])
               for r in unpack_to_rows(p2.read("merged", "data")).collect()}
    assert resumed == baseline

    # idempotent full re-run: everything skipped
    s3 = StagedIndexBuild(spark, str(root), run_id="run3").run(
        tr, shard_span=64, merge_factor=4)
    assert set(s3.values()) == {"skipped"}

    # lineage records both runs, with per-shard rows for packed/merged
    lin = p2.lineage().collect()
    assert {r["run_id"] for r in lin} == {"run1", "run2"}
    packed_rows = [r for r in lin if r["stage"] == "packed" and r["run_id"] == "run2"]
    assert packed_rows and all(r["bytes"] > 0 and r["doc_count"] > 0
                               and r["term_lo"] <= r["term_hi"] for r in packed_rows)


def test_builds_release_their_input_cache(spark, tmp_path):
    """The docID pass persists its input; once the docs stage is written
    (or the in-memory index is unpersisted) nothing cached is left
    behind, and an input the caller had cached stays cached."""
    def persistent_rdds():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persistent_rdds()
    StagedIndexBuild(spark, str(tmp_path / "a")).run(
        synthesize_transcripts(spark, 50), positions=True)
    assert persistent_rdds() == before
    idx = build_index(synthesize_transcripts(spark, 5))
    idx.term_stats.count()
    idx.unpersist()
    assert persistent_rdds() == before

    tr = synthesize_transcripts(spark, 50).cache()
    try:
        StagedIndexBuild(spark, str(tmp_path / "b")).run(tr)
        assert tr.storageLevel.useMemory
    finally:
        tr.unpersist()


def test_root_purge_lifecycle(spark, tmp_path):
    """The batch delete lifecycle end-to-end: record tombstones as
    metadata beside the root, purge() folds them into EVERY stage
    (row layouts, packed segments, recomputed stats), a fresh engine on
    the purged root is consistent on every path, and the whole thing is
    idempotent + crash-healing."""
    import shutil as sh

    from pyspark.sql import functions as F

    from mini_distributed_search_engine_spark.index.positions import (
        unpack_positions)
    from mini_distributed_search_engine_spark.query.bm25 import Query
    from mini_distributed_search_engine_spark.query.engine import SearchEngine

    tr = spark.createDataFrame(synthesize_transcripts_pdf(40, seed=9))
    root = tmp_path / "idx"
    b = StagedIndexBuild(spark, str(root), run_id="purge")
    b.run(tr, shard_span=64, merge_factor=4, positions=True)
    docs0 = b.read("docs", "data")
    all_ids = sorted(r["doc_id"] for r in docs0.select("doc_id").collect())
    tomb = [d for d in all_ids if d % 5 == 0]
    survivors = set(all_ids) - set(tomb)
    base = {(r["term"], r["doc_id"]): (r["tf"], r["dl"])
            for r in unpack_to_rows(b.read("merged", "data")).collect()}
    base_dl = {r["doc_id"]: r["dl"]
               for r in b.read("term_doc_tf", "dl").collect()}
    # phrase baseline: query-time mask on the UN-purged root (the phrase
    # path has no corpus stats, so purge must be rank-identical to it)
    eng0 = SearchEngine(spark, str(root))
    eng0.delete_docs(tomb)
    phrase0 = [(r["rank"], r["doc_id"], r["n_occ"])
               for r in eng0.search_phrase("the server", k=10)]

    # record in two batches (accumulation), then fold
    assert b.record_tombstones(tomb[: len(tomb) // 2]) == len(tomb) // 2
    assert b.record_tombstones(tomb) == len(tomb)  # union, not append
    res = b.purge()
    assert res["purged_docs"] == len(tomb)
    assert b.pending_tombstones() == []  # cleared on success

    # every stage dropped exactly the tombstoned docs
    assert {r["doc_id"] for r in b.read("docs", "data")
            .select("doc_id").collect()} == survivors
    assert {r["doc_id"] for r in b.read("term_doc_tf", "data")
            .select("doc_id").distinct().collect()} <= survivors
    assert {r["doc_id"] for r in b.read("term_doc_tf", "dl")
            .select("doc_id").collect()} == survivors
    assert {r["doc_id"] for r in b.read("positions", "data")
            .select("doc_id").distinct().collect()} <= survivors
    got = {(r["term"], r["doc_id"]): (r["tf"], r["dl"])
           for r in unpack_to_rows(b.read("merged", "data")).collect()}
    assert got == {k: v for k, v in base.items() if k[1] in survivors}
    pos_docs = {r["doc_id"] for r in unpack_positions(
        b.read("positions_packed", "data"))
        .select("doc_id").distinct().collect()}
    assert pos_docs <= survivors and pos_docs

    # stats recomputed over survivors (not the global pre-delete values)
    st = b.read("stats", "doc_stats").collect()[0]
    assert st["n_docs"] == len(survivors)
    exp_avgdl = sum(base_dl[d] for d in survivors) / len(survivors)
    assert abs(st["avgdl"] - exp_avgdl) < 1e-9
    df_got = {r["term"]: r["df"]
              for r in b.read("stats", "term_stats").collect()}
    from collections import Counter
    df_exp = Counter(t for (t, d) in base if d in survivors)
    assert df_got == dict(df_exp)

    # fresh engine on the purged root: no tombstone ever ranks, and the
    # stat-free phrase path is rank-identical to the query-time mask
    eng = SearchEngine(spark, str(root))
    hits = eng.search_batch((Query("q", "apple server error", k=50),))
    assert {r["doc_id"] for r in hits.collect()} <= survivors
    assert [(r["rank"], r["doc_id"], r["n_occ"])
            for r in eng.search_phrase("the server", k=10)] == phrase0

    # idempotent: purging the same ids again changes nothing
    b.purge(tomb)
    assert {(r["term"], r["doc_id"]): (r["tf"], r["dl"])
            for r in unpack_to_rows(b.read("merged", "data")).collect()} == got

    # crash-heal: a torn swap (tmp written, final removed, rename lost)
    # is finished by the next purge()'s _heal_swaps
    stage_dir = root / "docs"
    sh.copytree(stage_dir / "data", stage_dir / "data.purge_tmp")
    sh.rmtree(stage_dir / "data")
    b.purge([all_ids[1]] if all_ids[1] in survivors else [all_ids[2]])
    assert (stage_dir / "data").is_dir()
    assert not (stage_dir / "data.purge_tmp").exists()

    # engine checkpoint: live query-time deletes become pending metadata
    eng2 = SearchEngine(spark, str(root))
    eng2.delete_docs(sorted(survivors)[:3])
    assert eng2.checkpoint_tombstones() == 3
    assert len(b.pending_tombstones()) == 3


# every (stage, sub) directory purge() rewrites on a positional root, in
# swap order: 9 _swap_in calls per purge
_PURGE_SWAPS = (("docs", "data"), ("term_doc_tf", "data"),
                ("term_doc_tf", "dl"), ("positions", "data"),
                ("packed", "data"), ("merged", "data"),
                ("positions_packed", "data"),
                ("stats", "term_stats"), ("stats", "doc_stats"))
_CRASH_POINTS = ("before_rmtree", "before_rename")


def _stage_rows(root: Path) -> dict:
    """Every purged stage's rows, order-free (read with pyarrow: no Spark
    job per comparison)."""
    return {(stage, sub): sorted(map(repr, pq.read_table(
        str(root / stage / sub)).to_pylist()))
        for stage, sub in _PURGE_SWAPS}


@pytest.fixture(scope="module")
def purge_crashes(spark, tmp_path_factory):
    """One positional build with pending tombstones, purged once with the
    root copied at both crash points of every _swap_in call: after the tmp
    write, before the final dir is removed; and after the removal, before
    the rename. A copy is the on-disk state a process killed at that point
    leaves behind. Each copy is then healed by a plain purge(), four at a
    time (the jobs are tiny, so one at a time leaves the cores idle).
    Yields the healed build per crash point, and the rows of the clean
    purge."""
    base = tmp_path_factory.mktemp("purge_crash")
    root = base / "root"
    b = StagedIndexBuild(spark, str(root), run_id="crash")
    b.run(spark.createDataFrame(synthesize_transcripts_pdf(12, seed=13)),
          shard_span=16, merge_factor=4, positions=True)
    b.record_tombstones([r["doc_id"] for r in b.read("docs", "data")
                         .where("doc_id % 5 = 0").collect()])
    copies = {}
    swaps = itertools.count()

    def rmtree(path, ignore_errors=False):
        path = Path(path)
        tmp = path.with_name(path.name + ".purge_tmp")
        if tmp.is_dir():    # the final-dir removal of a written swap
            k = next(swaps)
            for point in _CRASH_POINTS:
                if point == "before_rename":
                    shutil.rmtree(path, ignore_errors=ignore_errors)
                copies[k, point] = base / f"{k}_{point}"
                shutil.copytree(root, copies[k, point])
            return None
        return shutil.rmtree(path, ignore_errors=ignore_errors)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "shutil", SimpleNamespace(rmtree=rmtree))
        b.purge()
    assert len(copies) == 2 * len(_PURGE_SWAPS)

    def heal(copy: Path) -> StagedIndexBuild:
        b = StagedIndexBuild(spark, str(copy))
        assert b._tombstone_files()     # the crash left them pending
        b.purge()
        return b

    with ThreadPoolExecutor(4) as pool:
        healed = dict(zip(copies, pool.map(heal, copies.values(),
                                           timeout=600)))
    yield healed, _stage_rows(root)
    shutil.rmtree(base, ignore_errors=True)


@pytest.mark.parametrize("point", _CRASH_POINTS)
@pytest.mark.parametrize("swap", range(len(_PURGE_SWAPS)))
def test_purge_crash_matrix(purge_crashes, swap, point):
    """A purge() killed at either rename step of any one of its swaps is
    healed by the next purge(): every stage equals a clean purge's and the
    pending tombstones are cleared."""
    healed, clean = purge_crashes
    b = healed[swap, point]
    assert not list(b.root.glob("*/*.purge_tmp"))
    assert b.pending_tombstones() == []
    assert _stage_rows(b.root) == clean


def test_compact_index_job_cli(spark, tmp_path, monkeypatch, capsys):
    """The cron-shaped compaction entrypoint: folds the recorded pending
    set, prints one JSON line, and a re-run with nothing pending is an
    explicit no-op (not a silent index rewrite)."""
    import json

    from jobs.compact_index_job import main

    tr = spark.createDataFrame(synthesize_transcripts_pdf(15, seed=3))
    root = tmp_path / "idx"
    b = StagedIndexBuild(spark, str(root), run_id="cli")
    b.run(tr, shard_span=64, merge_factor=4)
    ids = [r["doc_id"] for r in b.read("docs", "data").limit(4).collect()]
    b.record_tombstones(ids)
    monkeypatch.setattr("sys.argv", ["compact_index_job", "--root", str(root)])
    main()
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["purged_docs"] == 4
    assert b.pending_tombstones() == []
    assert set(ids).isdisjoint(
        r["doc_id"] for r in b.read("docs", "data").collect())
    main()   # nothing pending: no-op, still one JSON line
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["purged_docs"] == 0
