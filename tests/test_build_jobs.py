"""The staged build's Spark job budget and the passes that keep it small:
one docID check pass, job-free stage reads (schemas in the commit
markers), stats over the committed term_doc_tf stage, and roots
committed before the markers carried schemas."""

from __future__ import annotations

import json
import shutil

import pandas as pd
import pytest

from mini_distributed_search_engine_spark.index.build import (
    _partition_key_runs, _stable_doc_ids, build_index)
from mini_distributed_search_engine_spark.index.packed import unpack_to_rows
from mini_distributed_search_engine_spark.plans.pipeline import StagedIndexBuild
from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts_pdf)

STAGES = ("docs", "term_doc_tf", "positions", "positions_packed", "stats",
          "packed", "merged")
# jobs of one run(positions=True) on the fixture below: 26 measured on
# local[4] (the packed stage splices boundary shards here)
MAX_BUILD_JOBS = 30


def _last_job(sc) -> int:
    """Run one single-job marker and return its job id: the ids of the
    jobs started between two markers lie strictly between theirs."""
    sc.setJobGroup("test:mark", "mark")
    try:
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return max(sc.statusTracker().getJobIdsForGroup("test:mark"))


def _jobs(sc, group: str, a: int, b: int) -> int:
    return sum(a < j < b for j in sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(synthesize_transcripts_pdf(60, seed=21))


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    """One positional build, with the Spark jobs each stage group ran."""
    sc = spark.sparkContext
    root = tmp_path_factory.mktemp("jobs") / "idx"
    b = StagedIndexBuild(spark, str(root), run_id="jobs")
    a = _last_job(sc)
    b.run(corpus, shard_span=32, merge_factor=4, positions=True)
    z = _last_job(sc)
    per_stage = {s: _jobs(sc, f"build:{s}", a, z) for s in STAGES}
    return b, per_stage, z - a - 1


def test_build_job_budget(built):
    """Every job of the run is tagged with its stage, and the run stays
    within the recorded budget."""
    _, per_stage, total = built
    assert all(per_stage.values()), per_stage
    assert sum(per_stage.values()) == total
    assert total <= MAX_BUILD_JOBS, per_stage


def test_committed_stage_read_runs_no_job(spark, built):
    b, _, _ = built
    sc = spark.sparkContext
    a = _last_job(sc)
    frames = [b.read(s, sub) for s, sub in (
        ("docs", "data"), ("term_doc_tf", "dl"), ("stats", "doc_stats"),
        ("merged", "data"), ("positions_packed", "data"))]
    z = _last_job(sc)
    assert z - a - 1 == 0
    assert frames[0].count() > 0


def test_caller_job_group_is_kept(spark, corpus, tmp_path):
    """Under a caller's job group the build's jobs stay in that group
    (the stage rides in the job description), and the group is still set
    afterwards."""
    sc = spark.sparkContext
    sc.setJobGroup("test:caller", "caller")
    try:
        StagedIndexBuild(spark, str(tmp_path / "idx")).run(
            corpus, shard_span=32, merge_factor=4)
        assert sc.getLocalProperty("spark.jobGroup.id") == "test:caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("test:caller")


def _ids(df) -> list[tuple]:
    return sorted((r["doc_id"], r["conv_id"], r["turn_idx"])
                  for r in df.select("doc_id", "conv_id", "turn_idx").collect())


def test_doc_ids_same_for_clustered_and_shuffled_input(spark):
    pdf = synthesize_transcripts_pdf(40, seed=3)
    clustered = spark.createDataFrame(pdf)    # contiguous sorted slices
    shuffled = spark.createDataFrame(
        pdf.sample(frac=1.0, random_state=5).reset_index(drop=True))
    fast, fast_cached = _stable_doc_ids(clustered)
    slow, slow_cached = _stable_doc_ids(shuffled)
    try:
        assert len(fast_cached) == 1      # the input only: no range exchange
        assert len(slow_cached) == 2      # the input and its range sort
        got = _ids(fast)
        assert got == _ids(slow)
        want = sorted(zip(pdf["conv_id"], pdf["turn_idx"]))
        assert [(c, t) for _, c, t in got] == want
        assert [d for d, _, _ in got] == list(range(len(pdf)))
    finally:
        for df in fast_cached + slow_cached:
            df.unpersist()


@pytest.fixture
def two_row_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, prior)


def _one_partition(spark, keys):
    pdf = pd.DataFrame({"conv_id": [c for c, _ in keys],
                        "turn_idx": [t for _, t in keys],
                        "text": ["spark shuffle"] * len(keys)})
    return spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, text string").coalesce(1)


def test_inversion_across_arrow_batches_takes_slow_path(spark,
                                                        two_row_batches):
    """Each 2-row Arrow batch is sorted; the only inversion is between
    the last key of one batch and the first of the next."""
    ok = [("c0", 0), ("c0", 1), ("c0", 2), ("c1", 0)]
    bad = [("c0", 0), ("c0", 2), ("c0", 1), ("c1", 0)]
    assert [r["ok"] for r in _partition_key_runs(_one_partition(spark, ok))
            ] == [True]
    assert [r["ok"] for r in _partition_key_runs(_one_partition(spark, bad))
            ] == [False]
    docs, cached = _stable_doc_ids(_one_partition(spark, bad))
    try:
        assert len(cached) == 2
        assert sorted((r["conv_id"], r["turn_idx"], r["doc_id"])
                      for r in docs.collect()) == [
            ("c0", 0, 0), ("c0", 1, 1), ("c0", 2, 2), ("c1", 0, 3)]
    finally:
        for df in cached:
            df.unpersist()


def _stats(b: StagedIndexBuild) -> tuple[dict, tuple]:
    terms = {r["term"]: r["df"] for r in b.read("stats", "term_stats").collect()}
    row = b.read("stats", "doc_stats").collect()[0]
    return terms, (row["n_docs"], row["avgdl"])


def test_stats_match_in_memory_index(spark, corpus, built):
    """The stats stage (aggregated over the term_doc_tf stage's rows and
    its per-doc dl rows) holds the same term df, n_docs and avgdl as the
    in-memory index."""
    b, _, _ = built
    idx = build_index(corpus)
    try:
        want_terms = {r["term"]: r["df"] for r in idx.term_stats.collect()}
        ds = idx.doc_stats.collect()[0]
        want_docs = (ds["n_docs"], ds["avgdl"])
    finally:
        idx.unpersist()
    terms, docs = _stats(b)
    assert terms == want_terms
    assert docs[0] == want_docs[0] and docs[1] == pytest.approx(want_docs[1],
                                                                rel=1e-12)


def test_resume_reads_stats_from_stage(spark, corpus, tmp_path):
    """A resumed run over a committed term_doc_tf stage rebuilds the same
    stats as a fresh build's."""
    root = tmp_path / "idx"
    b1 = StagedIndexBuild(spark, str(root), run_id="a")
    b1.run(corpus, shard_span=32, merge_factor=4)
    before = _stats(b1)
    for s in ("stats", "packed", "merged"):
        shutil.rmtree(root / s)
    b2 = StagedIndexBuild(spark, str(root), run_id="b")
    status = b2.run(corpus, shard_span=32, merge_factor=4)
    assert status["term_doc_tf"] == "skipped" and status["stats"] == "built"
    assert _stats(b2) == before


def test_root_without_marker_schemas_resumes_and_reads(spark, corpus,
                                                       tmp_path):
    """A root committed before the markers recorded schemas: reads fall
    back to schema inference and a resumed run rebuilds identically."""
    root = tmp_path / "idx"
    b = StagedIndexBuild(spark, str(root), run_id="old")
    b.run(corpus, shard_span=32, merge_factor=4)
    rows = lambda bb: sorted(tuple(r) for r in
                             unpack_to_rows(bb.read("merged", "data")).collect())
    want = rows(b)
    for marker in root.glob("*/_COMMITTED.json"):
        payload = json.loads(marker.read_text())
        payload.pop("schemas")
        marker.write_text(json.dumps(payload))
    shutil.rmtree(root / "packed")
    shutil.rmtree(root / "merged")
    b2 = StagedIndexBuild(spark, str(root), run_id="new")
    assert b2.read("docs", "data").count() == corpus.count()
    status = b2.run(corpus, shard_span=32, merge_factor=4)
    assert status == {"docs": "skipped", "term_doc_tf": "skipped",
                      "stats": "skipped", "packed": "built",
                      "merged": "built"}
    assert rows(b2) == want
