"""Checkpoint-resumable staged index build with per-partition lineage.

North-rule requirement: every stage checkpoint-resumable, with per-partition
lineage rows (shard id, term range, doc count, bytes, wall time) written to a
metrics table. The reference's only resumability is the crawler's frontier
checkpoint (`Standalone_backend/.../Crawler.java:67,800-801`); ours is
stage-level: each stage materializes to parquet under ``<root>/<stage>/``
and commits by atomically renaming a ``_COMMITTED.json`` manifest into
place. A re-run with the same root skips every committed stage (idempotent),
so a killed build resumes from the last commit.

Storage note: stages are plain parquet directories (the Iceberg runtime jar
is not present in this sandbox); the commit marker supplies the atomic-commit
semantics Iceberg would give us, behind the same ``Stage`` API. The exact
boundary — what flips when the jar IS present, probe + session configs —
is documented and test-gated in ``mini_distributed_search_engine_spark/
storage.py`` (tests/test_storage.py).

Stages:
  docs              stable docIDs + dl                    (parquet)
  term_doc_tf       (term, doc_id, tf, dl)                (parquet, term-clustered)
  positions         (doc_id, term, pos); positions=True   (parquet, term-clustered)
  positions_packed  per-(term, doc-shard) positional      (parquet)
                    segments at the merged shard span;
                    positions=True
  stats             term_stats + doc_stats                (parquet)
  packed            per-(term, doc-shard) varint segments (parquet)
  merged            one hierarchical merge level          (parquet)
Lineage rows append to ``<root>/_lineage`` parquet per stage run.
"""

from __future__ import annotations

import json
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analyzer import term_doc_tf_pandas
from ..index.build import _stable_doc_ids
from ..index.packed import (build_packed_postings,
                            build_packed_postings_local, merge_packed)

LINEAGE_SCHEMA = ("run_id string, stage string, shard_id int, "
                  "term_lo string, term_hi string, doc_count long, "
                  "bytes long, wall_ms long, committed_at double")


class StagedIndexBuild:
    def __init__(self, spark: SparkSession, root: str, run_id: str | None = None):
        self.spark = spark
        self.root = Path(root)
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.root.mkdir(parents=True, exist_ok=True)

    # -- stage plumbing ----------------------------------------------------
    def _dir(self, stage: str) -> Path:
        return self.root / stage

    def _marker(self, stage: str) -> Path:
        return self._dir(stage) / "_COMMITTED.json"

    def is_committed(self, stage: str) -> bool:
        return self._marker(stage).exists()

    def _commit(self, stage: str, wall_ms: int, extra: dict | None = None) -> None:
        tmp = self._dir(stage) / "_COMMITTED.json.tmp"
        payload = {"run_id": self.run_id, "stage": stage, "wall_ms": wall_ms,
                   "committed_at": time.time(), **(extra or {})}
        tmp.write_text(json.dumps(payload))
        tmp.rename(self._marker(stage))  # atomic commit

    def read(self, stage: str, sub: str = "") -> DataFrame:
        return self.spark.read.parquet(str(self._dir(stage) / sub if sub
                                           else self._dir(stage)))

    def _append_lineage(self, stage: str, rows_df: DataFrame) -> None:
        rows_df.write.mode("append").parquet(str(self.root / "_lineage"))

    def _lineage_from_packed(self, stage: str, wall_ms: int) -> None:
        """Per-doc-shard lineage: shard id, term range, doc count, bytes."""
        packed = self.read(stage, "data")
        agg = (packed.groupBy("shard_id")
               .agg(F.min("term").alias("term_lo"), F.max("term").alias("term_hi"),
                    F.sum("df").alias("doc_count"),
                    (F.sum(F.length("doc_gaps")) + F.sum(F.length("tfs"))
                     + F.sum(F.length("dls"))).alias("bytes"))
               .select(F.lit(self.run_id).alias("run_id"), F.lit(stage).alias("stage"),
                       "shard_id", "term_lo", "term_hi",
                       F.col("doc_count").cast("long"), F.col("bytes").cast("long"),
                       F.lit(wall_ms).cast("long").alias("wall_ms"),
                       F.lit(time.time()).alias("committed_at")))
        self._append_lineage(stage, agg)

    def _lineage_simple(self, stage: str, df: DataFrame, wall_ms: int) -> None:
        agg = df.agg(F.count("*").alias("doc_count")).select(
            F.lit(self.run_id).alias("run_id"), F.lit(stage).alias("stage"),
            F.lit(-1).cast("int").alias("shard_id"),
            F.lit("").alias("term_lo"), F.lit("").alias("term_hi"),
            F.col("doc_count").cast("long"), F.lit(0).cast("long").alias("bytes"),
            F.lit(wall_ms).cast("long").alias("wall_ms"),
            F.lit(time.time()).alias("committed_at"))
        self._append_lineage(stage, agg)

    # -- the pipeline --------------------------------------------------------
    def run(self, transcripts: DataFrame, stem: bool = True,
            shard_span: int = 1 << 20, merge_factor: int = 8,
            positions: bool = False) -> dict[str, str]:
        """Run all stages, skipping committed ones. Returns stage -> status."""
        status: dict[str, str] = {}

        if self.is_committed("docs"):
            status["docs"] = "skipped"
        else:
            t0 = time.perf_counter()
            docs, cached = _stable_doc_ids(transcripts)
            docs.write.mode("overwrite").parquet(str(self._dir("docs") / "data"))
            # later stages read the docs stage back: release the input the
            # docID pass cached, or the corpus stays cached while serving
            for df in cached:
                df.unpersist()
            wall = int((time.perf_counter() - t0) * 1000)
            self._lineage_simple("docs", self.read("docs", "data"), wall)
            self._commit("docs", wall)
            status["docs"] = "built"

        # the fused TF pass output is doc-range-partitioned (a narrow map
        # over the docs stage); the packed stage encodes from THIS layout
        # (shuffle-free partition-local pack), so keep it persisted across
        # the term-clustered rewrite below until packing is done
        tf_fused: DataFrame | None = None
        if self.is_committed("term_doc_tf"):
            status["term_doc_tf"] = "skipped"
        else:
            t0 = time.perf_counter()
            docs = self.read("docs", "data")
            # fused zero-shuffle tokenize+TF+dl pass (see index/build.py)
            tf_fused = term_doc_tf_pandas(docs, "text", stem=stem,
                                          with_dl=True).persist()
            (tf_fused.where(F.col("term").isNull()).select("doc_id", "dl")
             .write.mode("overwrite")
             .parquet(str(self._dir("term_doc_tf") / "dl")))
            (tf_fused.where(F.col("term").isNotNull())
             .repartitionByRange(self.spark.sparkContext.defaultParallelism,
                                 "term", "doc_id")
             .sortWithinPartitions("term", "doc_id")
             .write.mode("overwrite").parquet(str(self._dir("term_doc_tf") / "data")))
            wall = int((time.perf_counter() - t0) * 1000)
            self._lineage_simple("term_doc_tf", self.read("term_doc_tf", "data"), wall)
            self._commit("term_doc_tf", wall)
            status["term_doc_tf"] = "built"

        if positions:
            # optional positional index (phrase search); term-range-clustered
            # like term_doc_tf so phrase-term IN-lists prune row groups
            if self.is_committed("positions"):
                status["positions"] = "skipped"
            else:
                from ..functions.analyzer import term_positions_pandas
                t0 = time.perf_counter()
                docs = self.read("docs", "data")
                # fused zero-shuffle pass (positions assigned partition-
                # locally; JVM posexplode+window would exchange O(tokens))
                (term_positions_pandas(docs, "text", stem=stem)
                 .repartitionByRange(
                     self.spark.sparkContext.defaultParallelism,
                     "term", "doc_id")
                 .sortWithinPartitions("term", "doc_id", "pos")
                 .write.mode("overwrite")
                 .parquet(str(self._dir("positions") / "data")))
                wall = int((time.perf_counter() - t0) * 1000)
                self._lineage_simple("positions",
                                     self.read("positions", "data"), wall)
                self._commit("positions", wall)
                status["positions"] = "built"

            # packed positional segments (index/positions.py): the
            # at-rest format phrase/proximity serve from. Sharded at
            # shard_span * merge_factor == the doc range a MERGED TF
            # shard covers (merge sets shard = doc // (span * factor)),
            # so the proximity kernel can cogroup this table with the
            # `merged` stage on shard_id directly.
            if self.is_committed("positions_packed"):
                status["positions_packed"] = "skipped"
            else:
                from ..index.positions import build_packed_positions
                t0 = time.perf_counter()
                pos = self.read("positions", "data")
                (build_packed_positions(
                    pos, shard_span=shard_span * merge_factor)
                 .write.mode("overwrite")
                 .parquet(str(self._dir("positions_packed") / "data")))
                wall = int((time.perf_counter() - t0) * 1000)
                self._lineage_simple(
                    "positions_packed",
                    self.read("positions_packed", "data"), wall)
                self._commit("positions_packed", wall)
                status["positions_packed"] = "built"

        if self.is_committed("stats"):
            status["stats"] = "skipped"
        else:
            t0 = time.perf_counter()
            tf = self.read("term_doc_tf", "data")
            (tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
             .write.mode("overwrite").parquet(str(self._dir("stats") / "term_stats")))
            docs = self.read("docs", "data")
            dl = self.read("term_doc_tf", "dl")
            (docs.join(dl, "doc_id", "left").na.fill({"dl": 0})
             .agg(F.count("*").cast("long").alias("n_docs"),
                  F.avg("dl").alias("avgdl"))
             .write.mode("overwrite").parquet(str(self._dir("stats") / "doc_stats")))
            wall = int((time.perf_counter() - t0) * 1000)
            self._lineage_simple("stats", self.read("stats", "term_stats"), wall)
            self._commit("stats", wall)
            status["stats"] = "built"

        if self.is_committed("packed"):
            status["packed"] = "skipped"
            if tf_fused is not None:
                tf_fused.unpersist()
        else:
            t0 = time.perf_counter()
            avgdl = float(self.read("stats", "doc_stats").collect()[0]["avgdl"])
            # Encode from the DOC-RANGE-PARTITIONED fused TF pass, not the
            # term-clustered stage output: partition-local pack replaces the
            # O(posting rows) exchange with a segment-level splice of the
            # few boundary shards (~2x faster measured, BENCH.md). On a
            # resumed run the fused pass is recomputed from the docs stage
            # (narrow, no shuffle — cheaper than shuffling the clustered
            # rows back into doc order).
            src = tf_fused
            if src is None:
                docs = self.read("docs", "data")
                src = term_doc_tf_pandas(docs, "text", stem=stem,
                                         with_dl=True).persist()
            tf_dl = (src.where(F.col("term").isNotNull())
                     .select("term", "doc_id", "tf", "dl"))
            try:
                seg = build_packed_postings_local(tf_dl, avgdl,
                                                  shard_span=shard_span)
            except ValueError:
                # input not doc-range partitioned (e.g. exotic docs layout):
                # fall back to the shuffle-based encoder, same bytes
                seg = build_packed_postings(tf_dl, avgdl,
                                            shard_span=shard_span)
            seg.write.mode("overwrite").parquet(str(self._dir("packed") / "data"))
            src.unpersist()
            wall = int((time.perf_counter() - t0) * 1000)
            # lineage BEFORE the commit marker (like every other stage): a
            # crash in between re-runs the stage; the inverse order would
            # leave a committed stage without lineage forever (resume skips it)
            self._lineage_from_packed("packed", wall)
            self._commit("packed", wall)
            status["packed"] = "built"

        if self.is_committed("merged"):
            status["merged"] = "skipped"
        else:
            t0 = time.perf_counter()
            packed = self.read("packed", "data")
            (merge_packed(packed, level_factor=merge_factor)
             .write.mode("overwrite").parquet(str(self._dir("merged") / "data")))
            wall = int((time.perf_counter() - t0) * 1000)
            self._lineage_from_packed("merged", wall)
            self._commit("merged", wall)
            status["merged"] = "built"

        return status

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(str(self.root / "_lineage"))

    # -- delete lifecycle ----------------------------------------------------
    # The LSM write discipline for batch roots, mirroring the streaming
    # compactor (streaming/indexing.py): a delete is O(1) metadata
    # (`record_tombstones` appends one tiny parquet beside the index, no
    # index byte is touched), and `purge()` folds the accumulated set into
    # EVERY committed stage at compaction time. The reference has no
    # delete path at all (its Indexer is build-once, `jobs/Indexer.java`);
    # this is deployment surface the Spark engine adds.

    def record_tombstones(self, doc_ids) -> int:
        """Append the given doc_ids to the root's pending-tombstone set
        (one small parquet file per call — O(deletes) metadata, zero index
        rewrite). SearchEngine masks them at query time from its own live
        set; this is the durable twin the next `purge()` folds in.
        Returns the total pending tombstone count."""
        from ..index.packed import _as_sorted_ids
        ids = _as_sorted_ids(doc_ids)
        if not ids.size:
            return len(self.pending_tombstones())
        tdir = self.root / "_tombstones"
        tdir.mkdir(exist_ok=True)
        (self.spark.createDataFrame([(int(i),) for i in ids],
                                    "doc_id bigint")
         .coalesce(1).write.mode("overwrite")
         .parquet(str(tdir / f"t_{uuid.uuid4().hex[:12]}.parquet")))
        return len(self.pending_tombstones())

    def _tombstone_files(self) -> list[Path]:
        tdir = self.root / "_tombstones"
        return sorted(tdir.glob("t_*.parquet")) if tdir.is_dir() else []

    def pending_tombstones(self) -> list[int]:
        """Union of all recorded-but-not-yet-purged tombstone ids."""
        files = self._tombstone_files()
        if not files:
            return []
        rows = (self.spark.read.parquet(*[str(f) for f in files])
                .select("doc_id").distinct().collect())
        return sorted(int(r["doc_id"]) for r in rows)

    def _swap_in(self, stage: str, sub: str, df: DataFrame) -> None:
        """Rewrite ``<stage>/<sub>`` via tmp-dir + rename: Spark reads
        lazily, so writing over the directory a plan is scanning would
        corrupt it mid-read. The write is an action — by the time the
        swap happens the new data is fully on disk."""
        final = self._dir(stage) / sub
        tmp = self._dir(stage) / f"{sub}.purge_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").parquet(str(tmp))
        shutil.rmtree(final, ignore_errors=True)
        tmp.rename(final)
        # drop any cached plan built over the OLD files at this path (a
        # live SearchEngine in this session caches merged and
        # positions_packed by plan identity — without this, its AND every
        # later read of the path would silently serve pre-purge data from
        # the cache)
        self.spark.catalog.refreshByPath(str(final))

    def _heal_swaps(self) -> None:
        """Finish (or discard) swaps torn by a crash: a leftover
        ``*.purge_tmp`` whose final directory is missing is the rename
        half of an interrupted swap — complete it; one whose final exists
        crashed before the rmtree and is stale — drop it. Either way a
        `purge()` re-run then re-applies cleanly (the pending tombstone
        files are only cleared after every stage swapped)."""
        for tmp in self.root.glob("*/*.purge_tmp"):
            final = tmp.with_name(tmp.name[:-len(".purge_tmp")])
            if final.exists():
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                tmp.rename(final)

    def purge(self, doc_ids=None) -> dict:
        """Physically fold tombstones into every committed stage: row
        stages (docs / term_doc_tf / positions) drop the docs via a
        broadcast anti-join, packed stages (packed / merged /
        positions_packed) re-encode ONLY range-intersecting segments
        (`packed.purge_docs` / `positions.purge_positions` — untouched
        segments pass through byte-identical), and stats (term df,
        n_docs, avgdl) are RECOMPUTED over the survivors — unlike
        query-time masking, which keeps global stats by design. A fresh
        SearchEngine on the purged root is then correct on every path,
        including the positional doc-store fallback.

        ``doc_ids=None`` folds in the pending `record_tombstones` set and
        clears it on success; passing ids explicitly leaves the pending
        set alone. Idempotent (purging already-absent docs is a no-op)
        and crash-safe: tombstone files are removed only after all stages
        are rewritten, so a re-run heals a torn root (see _heal_swaps)."""
        from ..index.packed import _as_sorted_ids, purge_docs
        self._heal_swaps()
        pending_files: list[Path] = []
        if doc_ids is None:
            pending_files = self._tombstone_files()
            tomb = _as_sorted_ids(self.pending_tombstones())
        else:
            tomb = _as_sorted_ids(doc_ids)
        if not tomb.size:
            return {"purged_docs": 0}
        t0 = time.perf_counter()
        ids = F.broadcast(self.spark.createDataFrame(
            [(int(i),) for i in tomb], "doc_id bigint"))
        for stage, sub in (("docs", "data"), ("term_doc_tf", "data"),
                           ("term_doc_tf", "dl"), ("positions", "data")):
            if self.is_committed(stage) and (self._dir(stage) / sub).is_dir():
                self._swap_in(stage, sub,
                              self.read(stage, sub)
                              .join(ids, "doc_id", "left_anti"))
        for stage in ("packed", "merged"):
            if self.is_committed(stage):
                self._swap_in(stage, "data",
                              purge_docs(self.read(stage, "data"), tomb))
        if self.is_committed("positions_packed"):
            from ..index.positions import purge_positions
            self._swap_in("positions_packed", "data",
                          purge_positions(
                              self.read("positions_packed", "data"), tomb))
        if self.is_committed("stats"):
            # mirror the build's stats stage over the (now purged) inputs
            tf = self.read("term_doc_tf", "data")
            self._swap_in("stats", "term_stats",
                          tf.groupBy("term")
                          .agg(F.count("*").cast("long").alias("df")))
            docs = self.read("docs", "data")
            dl = self.read("term_doc_tf", "dl")
            self._swap_in("stats", "doc_stats",
                          docs.join(dl, "doc_id", "left").na.fill({"dl": 0})
                          .agg(F.count("*").cast("long").alias("n_docs"),
                               F.avg("dl").alias("avgdl")))
        wall = int((time.perf_counter() - t0) * 1000)
        self._append_lineage("purge", self.spark.createDataFrame(
            [(self.run_id, "purge", -1, "", "", int(tomb.size), 0,
              wall, time.time())], LINEAGE_SCHEMA))
        for f in pending_files:
            shutil.rmtree(f, ignore_errors=True)
        return {"purged_docs": int(tomb.size), "wall_ms": wall}
