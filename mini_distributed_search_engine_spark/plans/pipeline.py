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
  term_doc_tf       (term, doc_id, tf, dl)                (parquet, doc-range ordered)
  positions         (doc_id, term, pos); positions=True   (parquet, doc-range ordered)
  positions_packed  per-(term, doc-shard) positional      (parquet)
                    segments at the merged shard span;
                    positions=True
  stats             term_stats + doc_stats                (parquet)
  packed            per-(term, doc-shard) varint segments (parquet)
  merged            one hierarchical merge level          (parquet)

Each stage runs about one Spark job per output it writes, under the job
group ``build:<stage>`` (a caller's job group is kept, and the stage
rides in the job description instead). A stage's ``_COMMITTED.json``
records the schema of every sub-directory it wrote, so `read()` of a
committed stage runs no schema-inference job. Lineage rows are written on
the driver (`write_lineage`), one parquet file per stage run under
``<root>/_lineage``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.analyzer import term_doc_tf_pandas, term_positions_pandas
from ..index.build import _stable_doc_ids
from ..index.packed import (build_packed_postings,
                            build_packed_postings_local, merge_packed)
from ..index.positions import build_packed_positions

LINEAGE_SCHEMA = ("run_id string, stage string, shard_id int, "
                  "term_lo string, term_hi string, doc_count long, "
                  "bytes long, wall_ms long, committed_at double")


def write_lineage(root: Path, name: str, rows: list[tuple]) -> None:
    """``rows`` (LINEAGE_SCHEMA tuples) as the one parquet file
    ``<root>/_lineage/<name>.parquet``, written on the driver with no
    Spark job. A rerun of the same step rewrites the same file (temp file
    + rename), so a step keeps exactly one set of rows, with no read of
    the existing ones. Shared by the staged build and the streaming
    indexer."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = to_arrow_schema(_parse_datatype_string(LINEAGE_SCHEMA))
    lin_dir = Path(root) / "_lineage"
    lin_dir.mkdir(exist_ok=True)
    # dot-prefixed: Spark's reader skips it until the rename
    tmp = lin_dir / f".{name}.parquet.tmp"
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(schema.names, row)) for row in rows], schema=schema),
        str(tmp))
    os.replace(tmp, lin_dir / f"{name}.parquet")


def _parquet_rows(path: Path) -> int:
    """Row count of a parquet directory from its files' footers."""
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(str(f)).num_rows
               for f in path.glob("*.parquet"))


def _term_stats(tf: DataFrame) -> DataFrame:
    return tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))


def _doc_stats(dl: DataFrame) -> DataFrame:
    """n_docs and avgdl over the per-doc dl rows (one per doc, zero-term
    docs included)."""
    return dl.agg(F.count("*").cast("long").alias("n_docs"),
                  F.avg("dl").alias("avgdl"))


class StagedIndexBuild:
    def __init__(self, spark: SparkSession, root: str, run_id: str | None = None):
        self.spark = spark
        self.root = Path(root)
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.root.mkdir(parents=True, exist_ok=True)
        # schemas of the sub-directories written by stages not yet committed
        self._written: dict[str, dict[str, dict]] = {}

    # -- stage plumbing ----------------------------------------------------
    def _dir(self, stage: str) -> Path:
        return self.root / stage

    def _marker(self, stage: str) -> Path:
        return self._dir(stage) / "_COMMITTED.json"

    def is_committed(self, stage: str) -> bool:
        return self._marker(stage).exists()

    def _commit(self, stage: str, wall_ms: int) -> None:
        tmp = self._dir(stage) / "_COMMITTED.json.tmp"
        payload = {"run_id": self.run_id, "stage": stage, "wall_ms": wall_ms,
                   "committed_at": time.time(),
                   "schemas": self._written.pop(stage, {})}
        tmp.write_text(json.dumps(payload))
        tmp.rename(self._marker(stage))  # atomic commit

    def _write(self, stage: str, sub: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(str(self._dir(stage) / sub))
        self._written.setdefault(stage, {})[sub] = df.schema.jsonValue()

    def read(self, stage: str, sub: str) -> DataFrame:
        """``<stage>/<sub>`` as a DataFrame. The schema comes from the
        stage's commit marker (or from this build's write, before the
        commit), so the read runs no Spark job; a stage committed
        without recorded schemas is read with schema inference."""
        schema = self._written.get(stage, {}).get(sub)
        if schema is None and self.is_committed(stage):
            schema = (json.loads(self._marker(stage).read_text())
                      .get("schemas", {}).get(sub))
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(T.StructType.fromJson(schema))
        return reader.parquet(str(self._dir(stage) / sub))

    @contextmanager
    def _jobs(self, stage: str):
        """Tag the stage's Spark jobs: job group ``build:<stage>``, or,
        when the caller already runs under a job group (a request, a
        tracing span), that group with ``build:<stage>`` as the job
        description. The thread's prior job properties are restored."""
        sc = self.spark.sparkContext
        keys = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")
        prior = [sc.getLocalProperty(k) for k in keys]
        if prior[0] is None:
            sc.setJobGroup(f"build:{stage}", f"build:{stage} {self.run_id}")
        else:
            sc.setLocalProperty("spark.job.description", f"build:{stage}")
        try:
            yield
        finally:
            for k, v in zip(keys, prior):
                sc.setLocalProperty(k, v)

    def _lineage_simple(self, stage: str, sub: str, wall_ms: int) -> None:
        write_lineage(self.root, f"{self.run_id}_{stage}", [(
            self.run_id, stage, -1, "", "",
            _parquet_rows(self._dir(stage) / sub), 0, wall_ms, time.time())])

    def _lineage_from_packed(self, stage: str, wall_ms: int) -> None:
        """Per-doc-shard lineage: shard id, term range, doc count, bytes."""
        rows = (self.read(stage, "data").groupBy("shard_id")
                .agg(F.min("term").alias("term_lo"),
                     F.max("term").alias("term_hi"),
                     F.sum("df").alias("doc_count"),
                     (F.sum(F.length("doc_gaps")) + F.sum(F.length("tfs"))
                      + F.sum(F.length("dls"))).alias("bytes"))
                .collect())
        now = time.time()
        write_lineage(self.root, f"{self.run_id}_{stage}", [
            (self.run_id, stage, r["shard_id"], r["term_lo"], r["term_hi"],
             int(r["doc_count"]), int(r["bytes"]), wall_ms, now)
            for r in rows])

    def _build(self, stage: str, body: Callable[[], None],
               status: dict[str, str], rows_sub: str | None = None) -> None:
        """Run ``body`` unless ``stage`` is committed, then write its
        lineage (a row count of ``rows_sub``, or per-shard rows of a
        segment stage) and commit it."""
        if self.is_committed(stage):
            status[stage] = "skipped"
            return
        with self._jobs(stage):
            t0 = time.perf_counter()
            body()
            wall = int((time.perf_counter() - t0) * 1000)
            # lineage BEFORE the commit marker: a crash in between re-runs
            # the stage, which rewrites its lineage file; the inverse order
            # would leave a committed stage without lineage forever
            if rows_sub is None:
                self._lineage_from_packed(stage, wall)
            else:
                self._lineage_simple(stage, rows_sub, wall)
            self._commit(stage, wall)
        status[stage] = "built"

    # -- the pipeline --------------------------------------------------------
    def run(self, transcripts: DataFrame, stem: bool = True,
            shard_span: int = 1 << 20, merge_factor: int = 8,
            positions: bool = False) -> dict[str, str]:
        """Run all stages, skipping committed ones. Returns stage -> status."""
        status: dict[str, str] = {}
        # the fused TF pass of this call, persisted while the packed stage
        # encodes from its doc-range partitioning
        fused: dict[str, DataFrame] = {}

        def docs() -> None:
            out, cached = _stable_doc_ids(transcripts)
            self._write("docs", "data", out)
            # later stages read the docs stage back: release the input the
            # docID pass cached, or the corpus stays cached while serving
            for df in cached:
                df.unpersist()

        def tf_pass() -> DataFrame:
            # fused zero-shuffle tokenize+TF+dl pass (see index/build.py),
            # doc-range partitioned: a narrow map over the docs stage. On
            # a resumed run it is recomputed from the docs stage (narrow,
            # no shuffle).
            if "tf" not in fused:
                fused["tf"] = term_doc_tf_pandas(
                    self.read("docs", "data"), "text", stem=stem,
                    with_dl=True).persist()
            return fused["tf"]

        def term_doc_tf() -> None:
            tf = tf_pass()
            self._write("term_doc_tf", "dl", tf.where(F.col("term").isNull())
                        .select("doc_id", "dl"))
            self._write("term_doc_tf", "data",
                        tf.where(F.col("term").isNotNull()))

        def positions_rows() -> None:
            # fused zero-shuffle pass (positions assigned partition-
            # locally; JVM posexplode+window would exchange O(tokens))
            self._write("positions", "data", term_positions_pandas(
                self.read("docs", "data"), "text", stem=stem))

        def positions_packed() -> None:
            # packed positional segments (index/positions.py): the at-rest
            # format phrase/proximity serve from. Sharded at
            # shard_span * merge_factor == the doc range a MERGED TF shard
            # covers (merge sets shard = doc // (span * factor)), so the
            # proximity kernel can cogroup this table with the `merged`
            # stage on shard_id directly.
            self._write("positions_packed", "data", build_packed_positions(
                self.read("positions", "data"),
                shard_span=shard_span * merge_factor))

        def stats() -> None:
            self._write("stats", "term_stats",
                        _term_stats(self.read("term_doc_tf", "data")))
            self._write("stats", "doc_stats",
                        _doc_stats(self.read("term_doc_tf", "dl")))

        def packed() -> None:
            avgdl = float(
                self.read("stats", "doc_stats").collect()[0]["avgdl"])
            # Encode from the DOC-RANGE-PARTITIONED fused TF pass:
            # partition-local pack replaces the O(posting rows) exchange
            # with a segment-level splice of the few boundary shards (~2x
            # faster measured, BENCH.md)
            tf_dl = (tf_pass().where(F.col("term").isNotNull())
                     .select("term", "doc_id", "tf", "dl"))
            try:
                seg = build_packed_postings_local(tf_dl, avgdl,
                                                  shard_span=shard_span)
            except ValueError:
                # input not doc-range partitioned (e.g. exotic docs layout):
                # fall back to the shuffle-based encoder, same bytes
                seg = build_packed_postings(tf_dl, avgdl,
                                            shard_span=shard_span)
            self._write("packed", "data", seg)
            fused.pop("tf").unpersist()

        def merged() -> None:
            self._write("merged", "data",
                        merge_packed(self.read("packed", "data"),
                                     level_factor=merge_factor))

        try:
            self._build("docs", docs, status, "data")
            self._build("term_doc_tf", term_doc_tf, status, "data")
            if positions:
                self._build("positions", positions_rows, status, "data")
                self._build("positions_packed", positions_packed, status,
                            "data")
            self._build("stats", stats, status, "term_stats")
            self._build("packed", packed, status)
            self._build("merged", merged, status)
        finally:
            for df in fused.values():
                df.unpersist()
        return status

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            str(self.root / "_lineage"))

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
            self._swap_in("stats", "term_stats",
                          _term_stats(self.read("term_doc_tf", "data")))
            self._swap_in("stats", "doc_stats",
                          _doc_stats(self.read("term_doc_tf", "dl")))
        wall = int((time.perf_counter() - t0) * 1000)
        write_lineage(self.root, f"{self.run_id}_purge_{uuid.uuid4().hex[:8]}",
                      [(self.run_id, "purge", -1, "", "", int(tomb.size), 0,
                        wall, time.time())])
        for f in pending_files:
            shutil.rmtree(f, ignore_errors=True)
        return {"purged_docs": int(tomb.size), "wall_ms": wall}
