"""Streaming index ingestion: a transcript file stream feeding the packed
inverted index via incremental appends.

The reference has no streaming at all; its closest analogue is the crawler
re-running the batch Indexer over a grown pt-crawl table. Spark-native
shape: ``readStream`` over a transcript directory -> ``foreachBatch`` ->
each micro-batch is analyzed, TF-aggregated, and folded into the existing
packed index with a boundary-shard byte splice (O(batch) work).

STORAGE IS INCREMENTAL, O(batch) bytes per micro-batch: a generation is a
MANIFEST of immutable segment parquet directories, not a rewritten copy of
the whole index. Batch N writes only its own new segments (plus the one
spliced boundary shard where old and new doc ranges meet) to ``segs_gN``;
`_meta.json` records, per manifest entry, the doc-shard range it is still
authoritative for — appending entry N with start shard b narrows every
older entry to shards < b (the spliced boundary shard supersedes the old
copy), and entries whose range becomes empty are pruned from the manifest
and deleted from disk (bounded storage). Term totals (the BM25 idf input)
are a vocabulary-sized side table rewritten per batch (O(vocab) << O(index)
bytes). `packed()` serves the index as a UNION of shard-range-filtered
manifest reads with the totals broadcast-joined on, in the same cached,
shard_id-partitioned layout `SearchEngine` serves (`packed.serving_layout`)
— readable by the same wand_topk path, parity with a one-shot batch build
is test-enforced (tests/test_streaming_index.py). The served frames
(`packed()`, `positions_packed()`, `doc_stats_df()`) are built once per
COMMITTED GENERATION and memoized, the way the reference Searcher loads
its IDF table once (Searcher.java:64-81,126): a warm read is one Spark job
over the cache, not a re-plan of every manifest read and the totals join.
Each meta flip unpersists the superseded frames before GC deletes their
files, and a reader that sees the committed meta change (another writer
on the root) rebuilds.

Exactly-once across restarts: the generation only advances after the new
segment parquet is fully written, and foreachBatch re-delivers an
uncommitted batch on restart; the batch-id high-water-mark skip is guarded
by a CHECKPOINT IDENTITY recorded in _meta.json — restarting with a
different checkpointLocation over the same index root (batch ids restart
at 0) fails loudly instead of silently dropping data.

Appended conversations must sort after all existing ones (the append-only
stable-docID discipline, validated by `append` via the new-vs-old doc range
check); each batch's docIDs continue from the running total.

LSM-style COMPACTION bounds read amplification: each append leaves one
manifest entry (one parquet dir, one plan branch in ``packed()``), so a
root fed by thousands of micro-batches pays O(batches) driver-plan,
file-listing and cache-build cost per served generation. ``compact()``
rewrites the authoritative union into a single directory and resets the
manifest to one entry — O(index) I/O once, run when len(manifest)
crosses an ops threshold (``stream_index_job.py --compact-after K``).
"""

from __future__ import annotations

import json
import shutil
import threading
import time
from functools import reduce
from pathlib import Path

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analyzer import term_tokens_df
from ..plans.pipeline import write_lineage
from ..index.packed import (PACKED_SCHEMA, TF_FAMILY, _as_sorted_ids,
                            build_packed_postings, purge_counting,
                            purge_segments, serving_layout, splice_boundary)
from ..index.positions import (POS_FAMILY, POS_SCHEMA,
                               build_packed_positions)
from ..sources.transcripts import TRANSCRIPT_SCHEMA

_COLS = TF_FAMILY.cols


def read_transcript_stream(spark: SparkSession, input_dir: str,
                           max_files_per_trigger: int = 1) -> DataFrame:
    return (spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            # transcripts usually land as per-batch parquet DIRECTORIES;
            # the file source only lists the top level without this
            .option("recursiveFileLookup", "true")
            .parquet(input_dir))


class StreamingIndexer:
    """foreachBatch sink state: packed index + doc stats under ``root``."""

    def __init__(self, spark: SparkSession, root: str,
                 shard_span: int = 4096,
                 with_positions: bool = False):
        """``with_positions=True`` maintains the PACKED POSITIONAL index
        (`index/positions.py`) beside the TF segments with the same
        manifest/splice/GC discipline — each batch writes its own
        ``pos_gN`` directory (plus the spliced boundary shard), manifest
        entries carry a ``pos_path``, and `positions_packed()` serves
        the phrase/proximity/span kernels. Same shard_span as the TF
        side, so the two tables cogroup per shard (the proximity
        kernel's co-sharding contract) by construction. Only valid from
        a FRESH root or one already built with positions — enabling it
        over an existing positions-less manifest raises (those batches'
        positions are gone)."""
        self.spark = spark
        self.root = Path(root)
        self.shard_span = shard_span
        self.with_positions = with_positions
        self.root.mkdir(parents=True, exist_ok=True)
        self._checkpoint_id: str | None = None
        # the committed generation's served frames (see `_served`): one
        # (meta key, {name: frame}) tuple, rebound whole and never mutated,
        # so concurrent readers always see a complete memo; the lock
        # serializes the builders and the meta-flip release
        self._memo: tuple[tuple | None, dict] = (None, {})
        self._memo_lock = threading.Lock()

    # -- state ------------------------------------------------------------
    def _meta_path(self) -> Path:
        return self.root / "_meta.json"

    def _meta(self) -> dict:
        if self._meta_path().exists():
            return json.loads(self._meta_path().read_text())
        return {"n_docs": 0, "sum_dl": 0, "next_doc_id": 0, "generation": 0,
                "manifest": []}

    def _save_meta(self, meta: dict) -> None:
        tmp = self.root / "_meta.json.tmp"
        tmp.write_text(json.dumps(meta))
        tmp.rename(self._meta_path())

    def _manifest(self, meta: dict) -> list[dict]:
        return meta["manifest"]

    def _segments(self, man: list[dict], path_key: str = "path",
                  cols: list[str] = _COLS) -> DataFrame:
        """Union of each manifest entry's authoritative shard range (raw
        segment columns, stored global_df — no totals join). One
        narrowing rule for BOTH segment families: ``path_key``/``cols``
        select the TF ("path") or positional ("pos_path") side."""
        parts = []
        for entry, nxt in zip(man, man[1:] + [None]):
            df = self.spark.read.parquet(str(self.root / entry[path_key]))
            df = df.where(F.col("shard_id") >= int(entry["start_shard"]))
            if nxt is not None:
                df = df.where(F.col("shard_id") < int(nxt["start_shard"]))
            parts.append(df.select(*cols))
        return reduce(DataFrame.unionByName, parts)

    @staticmethod
    def _meta_key(meta: dict) -> tuple:
        return int(meta["generation"]), meta.get("updated_at")

    def _served(self, name: str, build) -> DataFrame:
        """The committed generation's frame ``name``: ``build(meta)`` on
        first use, then memoized until the committed meta (generation +
        updated_at) changes — a flip by this indexer releases the memo
        itself (`unpersist`), one by another writer on the root is
        seen here, and the superseded frames are unpersisted."""
        meta = self._meta()
        key, frames = self._memo
        if key == self._meta_key(meta) and name in frames:
            return frames[name]
        with self._memo_lock:
            meta = self._meta()
            key, frames = self._memo
            if key != self._meta_key(meta):
                for df in frames.values():
                    df.unpersist()
                frames = {}
            if name not in frames:
                frames = {**frames, name: build(meta)}
                self._memo = (self._meta_key(meta), frames)
            return frames[name]

    def unpersist(self) -> None:
        """Drop and unpersist the served frames. Each meta flip calls it
        before GC deletes the files behind them; a caller done reading a
        root calls it to free the cache."""
        with self._memo_lock:
            _, frames = self._memo
            self._memo = (None, {})
        for df in frames.values():
            df.unpersist()

    def packed(self) -> DataFrame:
        """The committed generation's served index: union of each manifest
        entry's authoritative shard range, per-term totals (idf input)
        joined on broadcast, in the cached shard_id-partitioned serving
        layout (`packed.serving_layout`). Built once per generation; the
        first read after a flip builds the cache, later reads are one
        exchange-free Spark job."""
        return self._served("packed", self._build_packed)

    def _build_packed(self, meta: dict) -> DataFrame:
        man = self._manifest(meta)
        if not man:
            return self.spark.createDataFrame([], PACKED_SCHEMA)
        totals = self.spark.read.parquet(
            str(self.root / f"totals_g{meta['generation']}"))
        return serving_layout(self._segments(man).drop("global_df")
                              .join(F.broadcast(totals), "term")
                              .select(*_COLS))

    def positions_packed(self) -> DataFrame:
        """The committed generation's packed positional index
        (with_positions roots): union of each manifest entry's
        authoritative shard range, memoized like `packed()` and in the
        same layout, so the proximity kernel's per-shard cogroup of the
        two needs no exchange. Readable by phrase_match_packed /
        wand_topk_proximity / span_near_match."""
        return self._served("positions", self._build_positions)

    def _build_positions(self, meta: dict) -> DataFrame:
        man = self._manifest(meta)
        if not man:
            return self.spark.createDataFrame([], POS_SCHEMA)
        if any("pos_path" not in e for e in man):
            raise ValueError(
                f"index root {self.root} was not built with "
                "with_positions=True (manifest entries lack pos_path)")
        return serving_layout(self._segments(man, path_key="pos_path",
                                             cols=POS_FAMILY.cols))

    @staticmethod
    def _corpus_stats(meta: dict) -> tuple[int, float]:
        n = int(meta["n_docs"])
        return n, (meta["sum_dl"] / n if n else 0.0)

    def corpus_stats(self) -> tuple[int, float]:
        return self._corpus_stats(self._meta())

    def doc_stats_df(self) -> DataFrame:
        return self._served("doc_stats", lambda meta: (
            self.spark.createDataFrame([self._corpus_stats(meta)],
                                       "n_docs long, avgdl double")))

    # -- the sink ---------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Analyze the micro-batch, assign continuing docIDs, append.

        Writes O(batch + one boundary shard) segment bytes + O(vocab)
        totals bytes; never rewrites committed segments. Leaves one
        lineage row per committed batch under ``root/_lineage``.
        """
        t_start = time.time()
        meta = self._meta()
        known = meta.get("checkpoint_id")
        if self._checkpoint_id is not None:
            if known is None:
                meta["checkpoint_id"] = self._checkpoint_id  # adopt root
            elif known != self._checkpoint_id:
                raise RuntimeError(
                    f"index root {self.root} was built from checkpoint "
                    f"{known!r}, refusing batches from "
                    f"{self._checkpoint_id!r}: restarted batch ids would "
                    "alias committed ones and silently drop data. Reuse "
                    "the original checkpointLocation or start a new root.")
        if meta.get("batch_id", -1) >= batch_id:
            return  # crash landed between meta commit and checkpoint commit:
            # the redelivered batch is already folded in — skip (idempotent;
            # only valid because batch ids are monotone WITHIN a checkpoint,
            # which the identity guard above enforces)
        # docID base is the MONOTONE high-water mark, not the live doc
        # count: a tombstone compaction shrinks n_docs (the BM25 stats
        # input) but must never shrink the id space — reusing a purged or
        # live id would interleave posting runs (append splice fails
        # loudly) or resurrect engine-side tombstones recorded against
        # the old id.
        base = int(meta["next_doc_id"])
        # docIDs continue the stable ordering WITHIN the batch; the source
        # must deliver conversations in non-decreasing order across batches
        # (append-only discipline). Single partition + local sort keeps the
        # id assignment deterministic; micro-batches are small by
        # construction so this is not a scale bottleneck (the 10^12-turn
        # bulk load is the batch pipeline, not this sink).
        w_rows = (batch_df.repartition(1)
                  .sortWithinPartitions("conv_id", "turn_idx")
                  .withColumn("doc_id",
                              (F.monotonically_increasing_id() + F.lit(base))
                              .cast("long")))
        man = list(self._manifest(meta))
        # positions are a ROOT property, not a per-writer flag: a root
        # built with positions keeps maintaining them even if a later
        # writer omits with_positions=True — otherwise that writer's
        # manifest narrowing would GC the pos_gN directories and the
        # positional index would be silently, unrecoverably lost.
        with_pos = self.with_positions or (
            bool(man) and all("pos_path" in e for e in man))
        if self.with_positions and man and any(
                "pos_path" not in e for e in man):
            raise RuntimeError(
                f"index root {self.root} has manifest entries without "
                "positions; with_positions=True can only continue a root "
                "that was built with positions from its first batch")
        pos_rows = None
        if with_pos:
            # ONE analyzer pass feeds both sides: tf(term, doc) is the
            # per-doc position count by construction (positions cover
            # every surviving token occurrence), so the TF table derives
            # from the positional rows instead of a second tokenize+stem
            # pass over the batch text.
            from ..functions.analyzer import term_positions_pandas
            pos_rows = term_positions_pandas(w_rows, "text",
                                             stem=True).persist()
            tf = (pos_rows.groupBy("term", "doc_id")
                  .agg(F.count(F.lit(1)).cast("long").alias("tf")))
        else:
            terms = term_tokens_df(w_rows, "text", keep_cols=("doc_id",))
            tf = (terms.groupBy("term", "doc_id")
                  .agg(F.count(F.lit(1)).cast("long").alias("tf")))
        dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
        tf_dl = tf.join(dl, "doc_id").persist()

        n_new = w_rows.count()
        if n_new == 0:
            tf_dl.unpersist()   # don't leak one cached frame per empty batch
            if pos_rows is not None:
                pos_rows.unpersist()
            return
        sum_dl_new = dl.agg(F.sum("dl")).collect()[0][0] or 0
        new_n = int(meta["n_docs"]) + n_new  # live count (stats input)
        new_sum = int(meta["sum_dl"]) + int(sum_dl_new)
        avgdl = new_sum / new_n

        gen = int(meta["generation"])
        bshard = (base - 1) // self.shard_span  # old max covered shard
        start = base // self.shard_span         # first shard this batch touches
        # both families: same shard math, same boundary splice — one
        # directory per batch and family, O(batch + boundary) bytes
        sides = [("path", "segs", TF_FAMILY,
                  build_packed_postings(tf_dl, avgdl,
                                        shard_span=self.shard_span))]
        if with_pos:
            sides.append(("pos_path", "pos", POS_FAMILY,
                          build_packed_positions(
                              pos_rows, shard_span=self.shard_span)))
        entry = {"start_shard": int(start)}
        for key, prefix, family, out in sides:
            if man and start == bshard:
                # splice the one shard where old and new doc ranges meet
                old = self.spark.read.parquet(str(self.root / man[-1][key]))
                out = splice_boundary(old, out, bshard, family)
            entry[key] = f"{prefix}_g{gen + 1}"
            out.write.mode("overwrite").parquet(str(self.root / entry[key]))

        # totals: old totals (+) this batch's per-term posting counts
        new_tot = tf_dl.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("global_df"))
        old_tot_dir = self.root / f"totals_g{gen}"
        if man:
            old_tot = self.spark.read.parquet(str(old_tot_dir))
            merged = (old_tot.withColumnRenamed("global_df", "a")
                      .join(new_tot.withColumnRenamed("global_df", "b"),
                            "term", "full_outer")
                      .select("term",
                              (F.coalesce("a", F.lit(0)) +
                               F.coalesce("b", F.lit(0))).alias("global_df")))
        else:
            merged = new_tot
        merged.write.mode("overwrite").parquet(
            str(self.root / f"totals_g{gen + 1}"))
        tf_dl.unpersist()
        if pos_rows is not None:
            pos_rows.unpersist()

        # narrow older entries: shards >= start now live in the new entry;
        # trailing entries whose range became empty are dropped + deleted
        dead = []
        while man and int(man[-1]["start_shard"]) >= start:
            e = man.pop()
            dead += [e[k] for k in ("path", "pos_path") if k in e]
        man.append(entry)
        # per-batch lineage row (north rule: every stage leaves lineage):
        # batch id, docs appended, segment bytes written, wall time —
        # BEFORE the flip (`write_lineage`): a kill after the flip skips
        # the replay by the batch-id mark, so the row must already exist
        run_id = f"batch_{batch_id}"
        write_lineage(self.root, run_id, [(
            run_id, "stream_append", int(start), entry["path"], "",
            int(n_new), self._dir_bytes(entry["path"], entry.get("pos_path")),
            int((time.time() - t_start) * 1000), time.time())])
        meta.update({"n_docs": new_n, "sum_dl": new_sum,
                     "next_doc_id": base + n_new,
                     "generation": gen + 1, "batch_id": int(batch_id),
                     "manifest": man, "updated_at": time.time()})
        self._save_meta(meta)
        self.unpersist()
        # committed: garbage-collect superseded files (safe to re-crash
        # here — they are no longer referenced by the manifest)
        for p in dead:
            shutil.rmtree(self.root / p, ignore_errors=True)
        shutil.rmtree(old_tot_dir, ignore_errors=True)

    def _dir_bytes(self, *dirs: str | None) -> int:
        """Summed file bytes of the named root directories (None skipped):
        a step's TF segment dir plus, on a positional root, its pos dir."""
        return sum(f.stat().st_size for d in dirs if d is not None
                   for f in (self.root / d).rglob("*") if f.is_file())

    def compact(self, tombstones=None) -> dict:
        """Consolidate the manifest into one generation directory.

        ``tombstones`` (an iterable of doc_ids) folds accumulated deletes
        into the rewrite — the purge half of the LSM delete lifecycle
        (`SearchEngine.delete_docs` masks them at query time until this
        runs). Purged segments re-encode only where a tombstone lands in
        their doc range (`packed.purge_segments`); term totals are
        rebuilt from the surviving segments, and the meta corpus stats
        (n_docs / sum_dl, hence avgdl) shrink by the stats of the
        tombstoned docs still present, counted in the purge's own decode
        pass (`packed.purge_counting` — exact for every doc with at least
        one posting; a doc whose text analyzed to zero terms is
        undetectable from postings alone and its n_docs slot survives, see
        the inline note). With tombstones
        that actually purge something, compaction proceeds even on a
        single-entry manifest; a no-op delete file on an already-compacted
        root returns without the O(index) rewrite. The docID space stays
        MONOTONE across purges (meta next_doc_id), so appends after a
        purge never reuse a deleted or live id.

        Appends are O(batch) but leave one manifest entry (= one parquet
        directory, one plan branch in ``packed()``) per micro-batch, so an
        index fed by thousands of batches pays O(batches) driver-plan,
        file-listing and cache-build cost per served generation.
        Compaction is the LSM counterpart: rewrite the authoritative union
        into a single directory, reset the manifest to one entry, and GC
        superseded files. Costs O(index) I/O once; call it when
        ``len(manifest)`` crosses an ops threshold.
        Crash-safe the same way as appends: the meta commit is the atomic
        flip, GC only runs after it, and a crash between the two only
        leaves unreferenced directories — every compact() call starts with
        an orphan sweep (any segment/totals dir the manifest does not
        reference), so crash leftovers from interrupted compactions OR
        interrupted appends are reclaimed on the next call.

        SINGLE-WRITER, like the sink itself (one streaming query per
        root): the sweep only deletes dirs whose generation number is <=
        the committed generation, so the segs_g{N+1}/totals_g{N+1} an
        IN-FLIGHT append is writing before its meta flip are never
        touched; a crashed append's gen-N+1 leftovers become sweepable as
        soon as a later append advances the committed generation past
        them. Running compact concurrently with an append to the SAME
        root is still unsupported (both rewrite the manifest).
        """
        meta = self._meta()
        man = self._manifest(meta)
        cur_gen = int(meta["generation"])
        referenced = ({e["path"] for e in man}
                      | {e["pos_path"] for e in man if "pos_path" in e}
                      | {f"totals_g{cur_gen}"})

        def _gen_of(name: str) -> int:
            try:
                return int(name.rsplit("_g", 1)[1])
            except (IndexError, ValueError):
                return cur_gen + 1   # unparseable: treat as newer, keep
        for p in self.root.iterdir():
            if (p.is_dir()
                    and p.name.startswith(("segs_g", "totals_g", "pos_g"))
                    and p.name not in referenced
                    and _gen_of(p.name) <= cur_gen):
                shutil.rmtree(p, ignore_errors=True)
        tomb = (_as_sorted_ids(tombstones) if tombstones is not None
                else np.empty(0, dtype=np.int64))
        if len(man) <= 1 and not tomb.size:
            return {"compacted": False, "entries": len(man)}
        if not man:
            return {"compacted": False, "entries": 0}
        t0 = time.time()
        gen = int(meta["generation"]) + 1
        out_dir = f"segs_g{gen}"
        old_tot = self.root / f"totals_g{meta['generation']}"
        n_del = dl_del = 0
        if tomb.size:
            # ONE decode pass re-encodes the hit segments and counts the
            # tombstoned docs still present — the exact corpus-stat delta.
            # Exact for every doc WITH postings; a doc whose text analyzed
            # to zero terms leaves no posting to find, so its n_docs slot
            # survives a purge (harmless drift in the avgdl denominator,
            # bounded by the postingless-doc count; a doc store would be
            # needed to detect them and this root keeps only aggregates).
            with purge_counting(self._segments(man), tomb) as (
                    kept, n_del, dl_del):
                if n_del == 0 and len(man) <= 1:
                    # nothing to purge and no read amplification to fix
                    # (e.g. a cron re-run with an already-applied delete
                    # file): skip the O(index) rewrite entirely
                    return {"compacted": False, "entries": len(man),
                            "purged_docs": 0}
                kept.write.mode("overwrite").parquet(str(self.root / out_dir))
            # read the written output back for the count and the rebuilt
            # totals (column-pruned scans of the new parquet)
            seg = self.spark.read.parquet(str(self.root / out_dir))
            n_segments = seg.count()
            # totals must shrink with the purged postings: rebuild from
            # the surviving segments (vocabulary-sized, like any append)
            (seg.groupBy("term")
             .agg(F.sum("df").cast("long").alias("global_df"))
             .write.mode("overwrite")
             .parquet(str(self.root / f"totals_g{gen}")))
        else:
            seg = self._segments(man).persist()
            seg.write.mode("overwrite").parquet(str(self.root / out_dir))
            n_segments = seg.count()
            # no deletes: carry totals forward under the new generation
            # name (packed() resolves totals by generation; content is
            # unchanged)
            (self.spark.read.parquet(str(old_tot))
             .write.mode("overwrite")
             .parquet(str(self.root / f"totals_g{gen}")))
            seg.unpersist()
        new_entry = {"path": out_dir, "start_shard": 0}
        if all("pos_path" in e for e in man):
            # positional twin of the rewrite: shard-filtered union (the
            # purge gated by the same binary-search range test), one dir
            pos_src = self._segments(man, "pos_path", POS_FAMILY.cols)
            if tomb.size:
                pos_src = purge_segments(pos_src, tomb, POS_FAMILY)
            pos_out = f"pos_g{gen}"
            pos_src.write.mode("overwrite").parquet(
                str(self.root / pos_out))
            new_entry["pos_path"] = pos_out
        dead = [e["path"] for e in man] + [e["pos_path"] for e in man
                                           if "pos_path" in e]
        n_docs = int(meta["n_docs"]) - n_del
        seg_bytes = self._dir_bytes(out_dir, new_entry.get("pos_path"))
        # the lineage row goes in BEFORE the flip, keyed by generation: a
        # process killed after the flip already has it, and a heal of a
        # kill before the flip re-runs the same generation and rewrites
        # the same file. (If an append commits that generation number
        # instead, the abandoned compaction's row stays: one row too many,
        # never one missing.)
        run_id = f"compact_g{gen}"
        write_lineage(self.root, run_id, [(
            run_id, "compact", -1, out_dir, "", n_docs, seg_bytes,
            int((time.time() - t0) * 1000), time.time())])
        meta.update({"generation": gen, "updated_at": time.time(),
                     "manifest": [new_entry], "n_docs": n_docs,
                     "sum_dl": int(meta["sum_dl"]) - dl_del})
        self._save_meta(meta)
        self.unpersist()
        for p in dead:
            shutil.rmtree(self.root / p, ignore_errors=True)
        shutil.rmtree(old_tot, ignore_errors=True)
        return {"compacted": True, "purged_docs": n_del,
                "entries_before": len(man),
                "segments": int(n_segments), "bytes": int(seg_bytes)}

    def start(self, stream_df: DataFrame, checkpoint: str | None = None):
        """availableNow: drain everything currently in the source, then stop
        (deterministic for tests; drop availableNow for a live stream)."""
        cp = checkpoint or str(self.root / "_checkpoint")
        self._checkpoint_id = cp
        return (stream_df.writeStream
                .foreachBatch(self.process_batch)
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start())
