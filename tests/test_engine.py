"""SearchEngine end-to-end over a StagedIndexBuild root, parity with the
exhaustive BM25 scorer over the same root's row stages and with the
pure-Python references over its analyzed docs, and the skew bound on
packed segment sizes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mini_distributed_search_engine_spark.index.build import build_index
from mini_distributed_search_engine_spark.index.packed import build_packed_postings
from mini_distributed_search_engine_spark.plans.pipeline import StagedIndexBuild
from mini_distributed_search_engine_spark.query.bm25 import Query, bm25_topk
from mini_distributed_search_engine_spark.query.engine import SearchEngine
from mini_distributed_search_engine_spark.query.proximity import (
    proximity_scores_pandas)
from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts_pdf)
from ranked_reference import analyzed_docs, ranked_phrases, ranked_scores


@pytest.fixture(scope="module")
def index_root(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("engine_idx")
    tr = spark.createDataFrame(synthesize_transcripts_pdf(50, seed=21))
    StagedIndexBuild(spark, str(root), run_id="eng").run(
        tr, shard_span=64, merge_factor=4)
    return str(root)


@pytest.fixture(scope="module")
def docs_terms(spark, index_root):
    return analyzed_docs(spark.read.parquet(f"{index_root}/docs/data"))


def _ranked(df):
    return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
                  for r in df.collect())


def _row_stages(spark, root):
    """The root's row stages (term_doc_tf, term_stats, doc_stats) as the
    exhaustive scorer's input."""
    return tuple(spark.read.parquet(f"{root}/{stage}") for stage in
                 ("term_doc_tf/data", "stats/term_stats", "stats/doc_stats"))


def test_engine_packed_matches_exhaustive(spark, index_root):
    qs = (Query("a", "apple banana"), Query("b", "spark index"),
          Query("c", "running search", k=25))
    eng = SearchEngine(spark, index_root)
    a = _ranked(eng.search_batch(qs))
    b = _ranked(bm25_topk(spark, *_row_stages(spark, index_root), queries=qs))
    assert a == b and len(a) > 0


def test_engine_hydrated_search(spark, index_root):
    eng = SearchEngine(spark, index_root)
    rows = eng.search("apple", k=5)
    assert rows and rows[0]["rank"] == 1
    assert all(r["conv_id"].startswith("conv") and len(r["snippet"]) > 0
               for r in rows)


def test_packed_segments_bounded_under_skew(spark):
    """Doc-range sharding must bound every (term, shard) group even when one
    term owns ~40% of all postings (the hot role-token fixture)."""
    tr = spark.createDataFrame(
        synthesize_transcripts_pdf(60, seed=3, hot_token_frac=0.4))
    idx = build_index(tr)
    avgdl = idx.doc_stats.collect()[0]["avgdl"]
    span = 32
    packed = build_packed_postings(idx.term_doc_tf, avgdl, shard_span=span)
    mx = packed.agg(F.max("df")).collect()[0][0]
    assert mx <= span
    # hot terms exist and are split across multiple shards
    hot = (packed.groupBy("term").agg(F.count("*").alias("n_shards"),
                                      F.sum("df").alias("gdf"))
           .orderBy(F.col("gdf").desc()).first())
    assert hot["n_shards"] > 1


def test_engine_and_mode_and_phrase(spark, index_root, docs_terms):
    """mode='and' agrees with the pure-Python conjunctive reference and is
    a subset of OR; search_phrase returns occurrence-ranked rows."""
    packed_eng = SearchEngine(spark, index_root)
    qs = (Query("a", "apple banana", k=100), Query("b", "running search", k=100))
    a = _ranked(packed_eng.search_batch(qs, mode="and"))
    b = ranked_scores(docs_terms, qs, conjunctive=True)
    assert a == b
    and_docs = {(q, d) for q, _, d, _ in a}
    or_docs = {(r["query_id"], r["doc_id"])
               for r in packed_eng.search_batch(qs).collect()}
    assert and_docs <= or_docs

    rows = packed_eng.search_phrase("apple banana", k=10)
    assert rows == sorted(rows, key=lambda r: r["rank"])
    if rows:
        assert all(r["n_occ"] >= 1 for r in rows)

    with pytest.raises(ValueError):
        packed_eng.search_batch(qs, mode="not-a-mode")


def test_engine_suggest(spark, index_root):
    eng = SearchEngine(spark, index_root)
    out = eng.suggest("s", n=5)
    assert 0 < len(out) <= 5
    assert all(t.startswith("s") for t in out)
    assert out == eng.suggest("s", n=5)  # stable ordering


def test_engine_role_filtered_search(spark, index_root, docs_terms):
    eng = SearchEngine(spark, index_root)   # packed engine: the filter is
    rows = eng.search("apple banana", k=50, role="user")  # masked IN-kernel
    assert rows, "filtered search returned nothing"
    assert all(r["role"] == "user" for r in rows)
    # filtered results are the role-subset of unfiltered scoring: every
    # filtered hit appears in the unfiltered list with the SAME score
    unfiltered = {r["doc_id"]: r["score"]
                  for r in eng.search("apple banana", k=1000, role=None)}
    for r in rows:
        assert unfiltered.get(r["doc_id"]) == r["score"]
    # the packed path serves AND + role too (kernel-side mask after the
    # posting-list intersection)
    and_rows = eng.search("apple banana", k=50, mode="and", role="user")
    assert all(r["role"] == "user" for r in and_rows)
    and_ids = {r["doc_id"] for r in and_rows}
    assert and_ids <= {r["doc_id"] for r in rows}  # AND subset of OR
    # and the engine rank-agrees with the pure-Python reference over the
    # role's docs (corpus stats global)
    allowed = {r["doc_id"] for r in eng.docs.where(F.col("role") == "user")
               .select("doc_id").collect()}
    want = ranked_scores(docs_terms, (Query("q", "apple banana", k=50),),
                         keep=allowed)
    assert [(r["rank"], r["doc_id"], r["score"]) for r in rows] == \
        [(rank, d, s) for _, rank, d, s in want]


def test_engine_delete_docs_masks_every_path(spark, index_root, docs_terms):
    """Tombstoned docs vanish from ranked, role-filtered and phrase
    results without touching the at-rest index; the engine stays
    rank-identical to the pure-Python reference over the surviving docs
    (corpus stats global)."""
    packed_eng = SearchEngine(spark, index_root)
    base = packed_eng.search("apple banana", k=10, hydrate=False)
    assert base, "fixture must rank something"
    victims = [base[0]["doc_id"], base[1]["doc_id"]] if len(base) > 1 \
        else [base[0]["doc_id"]]
    assert packed_eng.delete_docs(victims) == len(victims)

    qs = (Query("a", "apple banana"), Query("b", "spark index"))
    a = _ranked(packed_eng.search_batch(qs))
    b = ranked_scores(docs_terms, qs,
                      keep=set(range(len(docs_terms))) - set(victims))
    assert a == b and a
    assert not {d for _, _, d, _ in a} & set(victims)

    # role-filtered packed path composes the allowed mask with tombstones
    rows = packed_eng.search("apple banana", k=10, hydrate=False,
                             role="user")
    assert not {r["doc_id"] for r in rows} & set(victims)

    # phrase path: tombstone a doc known to match, confirm it disappears
    ph = packed_eng.search_phrase("apple banana", k=10)
    if ph:
        packed_eng.delete_docs([ph[0]["doc_id"]])
        after = packed_eng.search_phrase("apple banana", k=10)
        assert ph[0]["doc_id"] not in {r["doc_id"] for r in after}

    # a fresh engine on the same root sees everything again (deletes are
    # engine-local metadata until purge_docs compaction)
    fresh = SearchEngine(spark, index_root)
    again = fresh.search("apple banana", k=10, hydrate=False)
    assert {r["doc_id"] for r in again} & set(victims)


def test_engine_proximity_and_packed_phrase(spark, index_root, docs_terms):
    """mode='proximity' agrees between the packed cogroup kernel and the
    pure-Python proximity reference; search_phrase serves from the packed
    positional segments (built lazily, co-sharded with the live TF
    layout) identically to the phrase-count reference."""
    packed_eng = SearchEngine(spark, index_root)
    qs = (Query("a", "apple banana"), Query("b", "spark index"),
          Query("c", "running search", k=25), Query("d", "apple"))
    a = _ranked(packed_eng.search_batch(qs, mode="proximity"))
    b = ranked_scores(docs_terms, qs, scorer=proximity_scores_pandas)
    assert a == b and len(a) > 0
    # serving entry: ranked, hydrated, and >= the plain BM25 score for the
    # same doc (the bonus is non-negative)
    rows = packed_eng.search_proximity("apple banana", k=5)
    assert rows and [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    plain = {r["doc_id"]: r["score"] for r in
             packed_eng.search("apple banana", k=500)}
    assert all(r["score"] >= plain[r["doc_id"]] - 1e-9 for r in rows)
    with pytest.raises(ValueError):
        packed_eng.search_batch(qs, mode="proximity", role="user")
    # phrase: packed kernel == phrase-count reference
    pp = [(r["rank"], r["doc_id"], r["n_occ"])
          for r in packed_eng.search_phrase("apple banana", k=20)]
    pe = [(rank, d, n) for _, rank, d, n in ranked_phrases(
        docs_terms, (Query("q", "apple banana", k=20),))]
    assert pp == pe


def test_engine_proximity_respects_tombstones(spark, index_root):
    """Deleted docs disappear from proximity and packed-phrase results."""
    eng = SearchEngine(spark, index_root)
    base = eng.search_proximity("apple banana", k=10, hydrate=False)
    assert base
    victim = base[0]["doc_id"]
    eng.delete_docs([victim])
    after = eng.search_proximity("apple banana", k=10, hydrate=False)
    assert victim not in {r["doc_id"] for r in after}
    ph = eng.search_phrase("apple banana", k=50)
    assert victim not in {r["doc_id"] for r in ph}


@pytest.fixture(scope="module")
def pos_root(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("eng_pos_idx")
    tr = spark.createDataFrame(synthesize_transcripts_pdf(50, seed=21))
    status = StagedIndexBuild(spark, str(root), run_id="engp").run(
        tr, shard_span=64, merge_factor=4, positions=True)
    assert status["positions_packed"] == "built"
    return root


def test_pipeline_positions_packed_stage(spark, pos_root):
    """StagedIndexBuild(positions=True) commits a positions_packed stage
    co-sharded with the merged TF layout; the engine serves proximity and
    phrase from it with answers identical to the pure-Python references
    over the root's analyzed docs."""
    from mini_distributed_search_engine_spark.index.positions import (
        unpack_positions)
    root = pos_root
    # stage contents == row positions
    rows = spark.read.parquet(f"{root}/positions/data")
    packed = spark.read.parquet(f"{root}/positions_packed/data")
    want = sorted((r["doc_id"], r["term"], r["pos"]) for r in rows.collect())
    got = sorted((r["doc_id"], r["term"], r["pos"])
                 for r in unpack_positions(packed).collect())
    assert got == want
    eng = SearchEngine(spark, str(root))
    assert eng._packed_positions_df() is not None
    # served from the committed stage (co-sharded by construction)
    rows_p = eng.search_proximity("apple banana", k=5, hydrate=False)
    rows_f = eng.search_phrase("apple banana", k=5)
    q = (Query("q", "apple banana", k=5),)
    terms = analyzed_docs(spark.read.parquet(f"{root}/docs/data"))
    assert ([(r["rank"], r["doc_id"], round(r["score"], 6)) for r in rows_p]
            == [(rank, d, s) for _, rank, d, s in ranked_scores(
                terms, q, scorer=proximity_scores_pandas)])
    assert ([(r["rank"], r["doc_id"], r["n_occ"]) for r in rows_f]
            == [(rank, d, n) for _, rank, d, n in ranked_phrases(terms, q)])


def _jobs_and_stages_run(spark, group, call):
    """(jobs, stages that ran tasks) of ``call()`` under a job group. A
    cached frame's build stage stays in every later job's stage list as a
    skipped stage, so only stages with completed tasks count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    ran = [s for j in jobs for s in st.getJobInfo(j).stageIds
           if st.getStageInfo(s) and st.getStageInfo(s).numCompletedTasks]
    return len(jobs), len(ran)


def test_warm_ranked_routes_are_one_job(spark, pos_root):
    """On a positions=True root every warm ranked route is one Spark job
    that runs one stage: phrase and near end in the driver merge like
    WAND and proximity, and the positional cache shares the TF cache's
    shard_id layout, so no route shuffles. A phrase with no indexable
    term runs no job at all."""
    eng = SearchEngine(spark, str(pos_root))
    routes = {
        "search": lambda: eng.search("apple banana", k=5, hydrate=False),
        "phrase": lambda: eng.search_phrase("apple banana", k=5),
        "near": lambda: eng.search_near("apple banana", k=5),
        "proximity": lambda: eng.search_proximity("apple banana", k=5,
                                                  hydrate=False),
    }
    for name, call in routes.items():
        assert call(), name  # warm: builds the caches, ranks something
        assert _jobs_and_stages_run(
            spark, f"warm_route_{name}", call) == (1, 1), name
    assert eng.search_phrase("the of", k=5) == []
    assert _jobs_and_stages_run(
        spark, "warm_route_empty_phrase",
        lambda: eng.search_phrase("the of", k=5)) == (0, 0)


def test_checkpointed_deletes_survive_restart(spark, pos_root):
    """A delete checkpointed by one engine stays masked in a second engine
    opened on the same root (ranked, phrase and proximity routes), and a
    checkpoint writes only the ids not already on disk."""
    import shutil
    a = SearchEngine(spark, str(pos_root))
    victim = a.search_phrase("apple banana", k=10)[0]["doc_id"]
    try:
        a.delete_docs([victim])
        assert a.checkpoint_tombstones() == 1
        assert a.checkpoint_tombstones() == 0
        b = SearchEngine(spark, str(pos_root))
        for rows in (b.search("apple banana", k=50, hydrate=False),
                     b.search_phrase("apple banana", k=50),
                     b.search_proximity("apple banana", k=50,
                                        hydrate=False)):
            assert rows and victim not in {r["doc_id"] for r in rows}
        b.delete_docs([victim, victim + 1])
        assert b.checkpoint_tombstones() == 1
        assert StagedIndexBuild(spark, str(pos_root)).pending_tombstones() \
            == [victim, victim + 1]
    finally:
        shutil.rmtree(pos_root / "_tombstones", ignore_errors=True)
