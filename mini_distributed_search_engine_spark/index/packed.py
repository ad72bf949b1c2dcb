"""Packed (compressed) inverted index: per-(term, doc-shard) binary segments.

Shape (north rule): per-partition sorted posting lists — term -> delta-encoded
docID gaps + tf arrays, varint-compressed — built as shards, then
hierarchically merged.

Sharding is BY DOC RANGE (shard_id = doc_id DIV shard_span), which is also
the skew strategy: a stop-word-like hot term (role/tool tokens) never forms
one giant group — its postings split across all doc shards, bounding every
encode task at shard_span postings. Merging adjacent shards of a term is a
byte splice (only the first gap of the right-hand run is rewritten —
`codec.splice_gap_streams`), so merge levels cost O(bytes), not O(decode).

Query-side, doc-range shards make exact distributed top-k trivial: shards
partition the doc space, so per-shard top-k (MaxScore/WAND inside an Arrow
group) union-ed then globally ranked is exact.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codec import (BLOCK, block_ends_array, decode_postings, encode_postings,
                    splice_gap_streams, tf_norm)

PACKED_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("shard_id", T.IntegerType(), False),
    T.StructField("df", T.LongType(), False),        # segment-local
    T.StructField("global_df", T.LongType(), False),  # term total (idf input)
    T.StructField("first_doc", T.LongType(), False),
    T.StructField("last_doc", T.LongType(), False),
    T.StructField("doc_gaps", T.BinaryType(), False),
    T.StructField("tfs", T.BinaryType(), False),
    T.StructField("dls", T.BinaryType(), False),
    T.StructField("block_last_doc", T.ArrayType(T.LongType()), False),
    T.StructField("block_max_tf_norm", T.ArrayType(T.DoubleType()), False),
    T.StructField("max_tf_norm", T.DoubleType(), False),
    # per-block byte END offsets into the three blobs, packed as
    # little-endian int64 bytes (codec.block_ends_array to read) — a reader
    # can slice and decode a single 128-posting block (block-max WAND
    # skipping). Binary, not array<long>: an array column would pay
    # per-element boxing on every columnar-cache scan of the index.
    T.StructField("block_gap_ends", T.BinaryType(), False),
    T.StructField("block_tf_ends", T.BinaryType(), False),
    T.StructField("block_dl_ends", T.BinaryType(), False),
    # avgdl the block-max norms were computed with (bound rescale input
    # when corpus avgdl drifts after appends; see codec.encode_postings)
    T.StructField("enc_avgdl", T.DoubleType(), False),
])

# encode_postings dict keys that map 1:1 onto PACKED_SCHEMA columns
_ENC_KEYS = ("df", "first_doc", "doc_gaps", "tfs", "dls", "block_last_doc",
             "block_max_tf_norm", "max_tf_norm", "block_gap_ends",
             "block_tf_ends", "block_dl_ends", "enc_avgdl")

DEFAULT_SHARD_SPAN = 1 << 20  # docs per shard; bounds any encode group size


def encode_runs(rows: DataFrame, cols: tuple[str, ...],
                encode_run: Callable[..., dict],
                schema: T.StructType) -> DataFrame:
    """Encode every (term, shard_id) run of ``rows`` into one segment row —
    the one encode operator behind the TF, positional and PFD builders.

    One hash exchange on (term, shard_id), a sort within each partition on
    (term, shard_id, *cols), then ONE mapInPandas pass: each Arrow batch is
    cut into equal-key runs by a vectorized key comparison and
    ``encode_run(*cols)`` is called once per run with the run's sorted
    numpy slices; it returns the row's non-key columns. A per-group
    applyInPandas pays one Python call and one single-row pandas frame per
    (term, shard) segment, which dominates the encode on a Zipfian
    vocabulary of rare terms; here a batch's segments leave as one frame.

    Memory: a run cut by an Arrow batch boundary is copied and carried
    into the next batch, so a task holds one Arrow batch
    (spark.sql.execution.arrow.maxRecordsPerBatch rows) plus one group —
    at most shard_span docs' rows — the same bound as the grouped operator.
    """
    names = [f.name for f in schema.fields]

    def gen(batches):
        key, pieces = None, []  # the open run: its key and column slices

        def close() -> dict:
            row = encode_run(*(np.concatenate(p) for p in zip(*pieces)))
            row["term"], row["shard_id"] = key
            return row

        for pdf in batches:
            if not len(pdf):
                continue
            terms = pdf["term"].to_numpy()
            shards = pdf["shard_id"].to_numpy()
            vals = [pdf[c].to_numpy() for c in cols]
            cuts = np.flatnonzero((terms[1:] != terms[:-1])
                                  | (shards[1:] != shards[:-1])) + 1
            out = []
            for a, b in zip(np.concatenate([[0], cuts]),
                            np.concatenate([cuts, [len(pdf)]])):
                k = (terms[a], int(shards[a]))
                if k != key:
                    if pieces:
                        out.append(close())
                    key, pieces = k, []
                pieces.append([v[a:b] for v in vals])
            # the batch's last run may continue in the next batch: copy it
            # so the carry does not pin this batch's buffers
            pieces[-1] = [v.copy() for v in pieces[-1]]
            if out:
                yield pd.DataFrame(out, columns=names)
        if pieces:
            yield pd.DataFrame([close()], columns=names)

    return (rows.select("term", "shard_id", *cols)
            .repartition("term", "shard_id")
            .sortWithinPartitions("term", "shard_id", *cols)
            .mapInPandas(gen, schema))


def _tf_segment(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                avgdl: float) -> dict:
    """encode_postings output as a PACKED_SCHEMA row minus the key columns;
    global_df is a placeholder the totals join overwrites."""
    enc = encode_postings(doc_ids, tfs, dls, avgdl)
    row = {"global_df": 0,
           "last_doc": int(enc["block_last_doc"][-1])
           if enc["block_last_doc"] else 0}
    row.update({k: enc[k] for k in _ENC_KEYS})
    return row


def _attach_totals(segs: DataFrame, rows: DataFrame) -> DataFrame:
    """Ride each term's total df on its segments, counted over the SKINNY
    (term, doc_id) source rows (count of pairs == sum of segment dfs), not
    over the segments: a with_global_df over unpersisted segments would
    run the encode once for the totals aggregate and once for the join."""
    totals = rows.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("_gdf"))
    return (segs.drop("global_df").join(F.broadcast(totals), "term")
            .withColumnRenamed("_gdf", "global_df")
            .select(*[f.name for f in PACKED_SCHEMA.fields]))


def build_packed_postings(term_doc_tf: DataFrame, avgdl: float,
                          shard_span: int = DEFAULT_SHARD_SPAN) -> DataFrame:
    """(term, doc_id, tf, dl) rows -> packed per-(term, shard) segments.

    One exchange on (term, shard_id) and one sorted-run encode pass
    (`encode_runs`); each segment is at most shard_span postings
    regardless of term hotness, and a task holds one Arrow batch plus one
    such group.
    """
    with_shard = term_doc_tf.withColumn(
        "shard_id", (F.col("doc_id") / F.lit(shard_span)).cast("int"))
    segs = encode_runs(with_shard, ("doc_id", "tf", "dl"),
                       lambda docs, tfs, dls: _tf_segment(docs, tfs, dls,
                                                          avgdl),
                       PACKED_SCHEMA)
    return _attach_totals(segs, term_doc_tf)


def with_global_df(segments: DataFrame) -> DataFrame:
    """(Re)compute each term's total df and ride it with every segment (the
    idf input at query time, so a query is one job) — computed over the tiny
    segments table, not the posting rows. Also the repair step after an
    incremental append changes term totals.

    The totals side is BROADCAST: without the hint the planner (blind to
    the mapInPandas output size) picks a sort-merge join that shuffles
    every segment's posting blobs; broadcasting the vocabulary-sized
    (term, df) table keeps the blobs where they are. (A vocabulary too big
    to broadcast would need a bucketed join instead — at 10M terms the
    totals are still only hundreds of MB.)"""
    totals = segments.groupBy("term").agg(
        F.sum("df").cast("long").alias("_gdf"))
    return (segments.drop("global_df").join(F.broadcast(totals), "term")
            .withColumnRenamed("_gdf", "global_df")
            .select(*[f.name for f in PACKED_SCHEMA.fields]))


def build_packed_postings_local(tf_dl: DataFrame, avgdl: float,
                                shard_span: int = DEFAULT_SHARD_SPAN) -> DataFrame:
    """Shuffle-free segment encode for DOC-RANGE-PARTITIONED input.

    `build_index`'s fused TF root is partitioned by doc ranges (it is a
    narrow map over the range-partitioned docs), so each partition holds
    every posting of its doc range: encode (term, shard) runs per
    partition with NO exchange of posting rows, then splice only the
    shards that were split across a partition boundary (segment-level
    work, same byte-splice as incremental append). The posting-row shuffle
    of `build_packed_postings` — O(corpus) rows through an exchange — is
    replaced by a segment-level exchange of the few boundary shards.

    Memory: one partition's posting rows are held in pandas during encode;
    size partitions (spark.sql.files.maxPartitionBytes / input splits)
    accordingly — the usual ~128 MB splits are fine.

    Byte-identical to `build_packed_postings` output (test-enforced).
    """
    def gen(batches):
        parts = list(batches)
        if not parts:
            return
        all_ = pd.concat(parts, ignore_index=True)
        if not len(all_):
            return
        all_["shard_id"] = (all_["doc_id"] // shard_span).astype("int32")
        out = []
        for (term, shard_id), g in all_.groupby(["term", "shard_id"],
                                                sort=False):
            row = _tf_segment(g["doc_id"].to_numpy(), g["tf"].to_numpy(),
                              g["dl"].to_numpy(), avgdl)
            row.update(term=term, shard_id=int(shard_id))
            out.append(row)
        yield pd.DataFrame(out, columns=[f.name for f in PACKED_SCHEMA.fields])

    src = tf_dl.select("term", "doc_id", "tf", "dl")
    # Boundary shards are TERM-INDEPENDENT: a shard needs splicing iff its
    # doc range spans a partition boundary — at most one shard id per
    # boundary, found from per-partition doc ranges with one tiny agg
    # (no join against the blob-carrying segment rows).
    ranges = (src.groupBy(F.spark_partition_id().alias("_pid"))
              .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
              .collect())
    ranges.sort(key=lambda r: r["lo"])
    for prev, r in zip(ranges, ranges[1:]):
        if int(r["lo"]) <= int(prev["hi"]):
            raise ValueError(
                "build_packed_postings_local requires doc-range-partitioned "
                f"input, but partition doc ranges overlap: "
                f"[{prev['lo']},{prev['hi']}] vs [{r['lo']},{r['hi']}] "
                "(interleaved posting runs) — use build_packed_postings")
    boundary_ids = sorted({
        int(r["lo"]) // shard_span
        for prev, r in zip(ranges, ranges[1:])
        if int(r["lo"]) // shard_span == int(prev["hi"]) // shard_span})

    segs = src.mapInPandas(gen, PACKED_SCHEMA)
    if not boundary_ids:
        return _attach_totals(segs, src)
    segs = segs.persist()
    whole = segs.where(~F.col("shard_id").isin(boundary_ids))
    spliced = merge_packed(segs.where(F.col("shard_id").isin(boundary_ids)),
                           level_factor=1)
    return _attach_totals(whole.unionByName(spliced), src)


def merge_packed(packed: DataFrame, level_factor: int = 8,
                 salt_buckets: int = 1) -> DataFrame:
    """One hierarchical merge level: coalesce up to ``level_factor`` adjacent
    doc-shards of each term into one segment via gap-stream splicing.

    new shard_id = old shard_id DIV level_factor. Exactly reproduces what a
    full re-encode would produce (gaps are identical by construction); block
    metadata concatenates unchanged — block boundaries simply stay where the
    original runs put them (byte offsets are shifted to the merged stream).

    Memory: grouping is per TARGET shard, so one pandas task holds every
    term's segment blobs for level_factor * shard_span docs of postings —
    at the defaults (8 * 1M postings, each a handful of varint bytes) tens
    of MB per task. If that bound is too big (huge shard_span on
    memory-tight executors), pass ``salt_buckets > 1``: groups become
    (target shard, hash(term) % salt) — per-task memory drops by the salt
    factor while keeping the batched-splice win, since a term's segments
    always share a salt bucket (splice correctness is per TERM, never
    across terms). Grouping per (term, shard) instead would bound memory
    at shard_span but pay one applyInPandas call and one pandas frame per
    segment — the per-group cost `encode_runs` avoids for the encoders
    (an encode holds one Arrow batch plus one group).
    """

    def merge_one(term, new_shard, g: pd.DataFrame) -> dict:
        # first_doc tiebreak: an incremental append can put TWO segments in
        # the same (term, shard) -- old and new doc ranges are disjoint, so
        # first_doc orders the splice correctly
        g = g.sort_values(["shard_id", "first_doc"])
        rows = list(g.itertuples(index=False))
        acc = rows[0]
        out_gaps = bytes(acc.doc_gaps)
        tfs = bytearray(bytes(acc.tfs))
        dls = bytearray(bytes(acc.dls))
        block_last = list(acc.block_last_doc)
        block_max = list(acc.block_max_tf_norm)
        gap_ends = [block_ends_array(bytes(acc.block_gap_ends))]
        tf_ends = [block_ends_array(bytes(acc.block_tf_ends))]
        dl_ends = [block_ends_array(bytes(acc.block_dl_ends))]
        df = int(acc.df)
        last_doc = int(acc.last_doc)
        max_norm = float(acc.max_tf_norm)
        # bound rescale uses max(1, avgdl_now/enc_avgdl): taking the MIN of
        # merged runs' enc_avgdl over-corrects the other runs' bounds, which
        # keeps them sound (larger upper bound, never smaller)
        enc_avgdl = float(acc.enc_avgdl)
        for r in rows[1:]:
            if int(r.first_doc) <= last_doc:
                # guards build_packed_postings_local misuse: splicing is
                # only valid when runs cover disjoint ascending doc ranges
                raise ValueError(
                    f"interleaved posting runs for term={term!r} "
                    f"shard={acc.shard_id}: run starting at "
                    f"{r.first_doc} overlaps previous end {last_doc} "
                    "(input not doc-range partitioned?)")
            r_gaps = bytes(r.doc_gaps)
            out_gaps = splice_gap_streams(0, out_gaps, last_doc,
                                          int(r.first_doc), r_gaps)
            # r's first varint was rewritten as a gap; its byte offsets
            # shift by the accumulated prefix plus that length delta —
            # together: the combined length minus r's own stream length
            shift = len(out_gaps) - len(r_gaps)
            gap_ends.append(block_ends_array(bytes(r.block_gap_ends)) + shift)
            tf_ends.append(block_ends_array(bytes(r.block_tf_ends)) + len(tfs))
            dl_ends.append(block_ends_array(bytes(r.block_dl_ends)) + len(dls))
            tfs += bytes(r.tfs)
            dls += bytes(r.dls)
            block_last += list(r.block_last_doc)
            block_max += list(r.block_max_tf_norm)
            df += int(r.df)
            last_doc = int(r.last_doc)
            max_norm = max(max_norm, float(r.max_tf_norm))
            enc_avgdl = min(enc_avgdl, float(r.enc_avgdl))
        return {
            "term": term, "shard_id": int(new_shard), "df": df,
            "global_df": int(acc.global_df),
            "first_doc": int(acc.first_doc), "last_doc": last_doc,
            "doc_gaps": out_gaps, "tfs": bytes(tfs), "dls": bytes(dls),
            "block_last_doc": block_last, "block_max_tf_norm": block_max,
            "max_tf_norm": max_norm,
            "block_gap_ends": np.concatenate(gap_ends).astype("<i8").tobytes(),
            "block_tf_ends": np.concatenate(tf_ends).astype("<i8").tobytes(),
            "block_dl_ends": np.concatenate(dl_ends).astype("<i8").tobytes(),
            "enc_avgdl": enc_avgdl,
        }

    # ONE pandas group per target shard (not per (term, shard)): a merge
    # group is all the terms of one merged shard, looped internally, so the
    # per-call cost is paid per shard rather than per segment.
    def merge_shard(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        new_shard = int(key[0])
        out = [merge_one(term, new_shard, g)
               for term, g in pdf.groupby("term", sort=False)]
        return pd.DataFrame(out, columns=[f.name for f in PACKED_SCHEMA.fields])

    lv = packed.withColumn("_new_shard",
                           (F.col("shard_id") / F.lit(level_factor)).cast("int"))
    if salt_buckets > 1:
        lv = lv.withColumn("_salt",
                           F.pmod(F.xxhash64("term"), F.lit(salt_buckets)))
        return (lv.groupBy("_new_shard", "_salt")
                .applyInPandas(merge_shard, PACKED_SCHEMA))
    return (lv.groupBy("_new_shard")
            .applyInPandas(merge_shard, PACKED_SCHEMA))


def append_packed(old_packed: DataFrame, new_term_doc_tf: DataFrame,
                  avgdl: float,
                  shard_span: int = DEFAULT_SHARD_SPAN) -> DataFrame:
    """Incremental index append: fold NEW docs' postings into an existing
    packed index without re-encoding the old segments.

    Requires append-only doc identity: every new doc_id exceeds every old
    doc_id (the stable-docID discipline gives this for appended
    conversations, which sort after existing ones). New postings are
    encoded into segments with the same shard_span; the union is then run
    through a level_factor=1 merge, which is an identity for untouched
    shards and a byte splice for the one boundary shard where old and new
    doc ranges meet; term totals (the idf input) are recomputed over the
    segment table. Posting bytes are identical to a full rebuild (gaps
    depend only on docIDs/tfs/dls); only the advisory block-max metadata
    reflects encode-time avgdl, which the query path no longer relies on
    (wand.py derives exact bounds from decoded norms).
    """
    new_seg = build_packed_postings(new_term_doc_tf, avgdl,
                                    shard_span=shard_span)
    cols = [f.name for f in PACKED_SCHEMA.fields]
    unioned = old_packed.select(*cols).unionByName(new_seg.select(*cols))
    # Only the single boundary shard (where old and new doc ranges meet) can
    # hold duplicate (term, shard) segments — splice just that shard and
    # pass every other segment through untouched, so an append costs
    # O(new data + one shard), not a rewrite of the whole index.
    old_top = old_packed.agg(F.max("shard_id").alias("s"),
                             F.max("last_doc").alias("d")).collect()[0]
    bshard = old_top["s"]
    if bshard is None:  # appending to an empty index
        return with_global_df(new_seg)
    # Validate the append-only precondition: new doc_ids below the old
    # index's covered range would land duplicate (term, shard) segments in
    # shards BELOW bshard, flow through `untouched` unmerged, and silently
    # corrupt queries. Cheap check (two tiny aggs) — fail loudly instead.
    new_min = new_term_doc_tf.agg(F.min("doc_id")).collect()[0][0]
    if new_min is not None and int(new_min) <= int(old_top["d"]):
        raise ValueError(
            f"append_packed requires append-only doc identity: new min "
            f"doc_id {new_min} <= existing max doc {old_top['d']} "
            "(interleaved posting runs) — rebuild instead of appending")
    untouched = unioned.where(F.col("shard_id") != F.lit(bshard))
    spliced = merge_packed(unioned.where(F.col("shard_id") == F.lit(bshard)),
                           level_factor=1)
    return with_global_df(untouched.unionByName(spliced))


def purge_docs(packed: DataFrame, doc_ids) -> DataFrame:
    """Physical tombstone purge: remove the given doc_ids' postings from a
    packed index, re-encoding ONLY the segments whose [first_doc, last_doc]
    range contains a tombstone; every other segment's blobs pass through
    byte-untouched (test-enforced). Term totals (global_df, the idf input)
    are recomputed over the segment table via the usual broadcast join.

    This is the delete half of the LSM lifecycle: a deployment records
    deletes as a tombstone doc-id set beside the index (O(1) metadata per
    delete) and folds them in here at compaction time. The reference has
    no delete path at all (its Indexer is build-once); this is deployment
    surface the Spark engine adds.

    Scale: the tombstone array rides the task closure into one
    mapInPandas pass (8 bytes per delete — a million deletes is 8 MB);
    per segment, two np.searchsorted binary searches decide intersection,
    so untouched segments pay zero decode work. Segments whose every
    posting is deleted disappear, and a fully-deleted term disappears
    with its segments. Re-encode keeps each segment's own enc_avgdl, so
    block-max bounds stay sound under the reader's drift rescale.
    """
    return with_global_df(_purge_segments(packed, _as_sorted_ids(doc_ids)))


def _as_sorted_ids(doc_ids) -> np.ndarray:
    """Normalize an iterable of doc ids to the sorted unique int64 array
    every tombstone path keys its binary searches on (shared by
    purge_docs / tombstone_doc_stats / wand_topk's blocked mask)."""
    return np.unique(np.fromiter((int(d) for d in doc_ids), dtype=np.int64))


def _purge_segments(packed: DataFrame, tomb: np.ndarray) -> DataFrame:
    """The purge mapInPandas pass alone: raw segments out, stored
    global_df left STALE — `purge_docs` recomputes it via with_global_df;
    the streaming compactor writes its own totals table instead."""
    cols = [f.name for f in PACKED_SCHEMA.fields]

    def gen(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                lo = np.searchsorted(tomb, int(r.first_doc), side="left")
                hi = np.searchsorted(tomb, int(r.last_doc), side="right")
                if lo == hi:  # no tombstone inside this segment's doc range
                    out.append({c: getattr(r, c) for c in cols})
                    continue
                dec = decode_postings(bytes(r.doc_gaps), bytes(r.tfs),
                                      bytes(r.dls))
                keep = ~np.isin(dec.doc_ids, tomb[lo:hi])
                if not keep.any():
                    continue  # segment fully deleted
                if keep.all():  # tombstones in range, none in this term
                    out.append({c: getattr(r, c) for c in cols})
                    continue
                row = _tf_segment(dec.doc_ids[keep], dec.tfs[keep],
                                  dec.dls[keep], float(r.enc_avgdl))
                row.update(term=r.term, shard_id=int(r.shard_id))
                out.append(row)
            if out:
                yield pd.DataFrame(out, columns=cols)

    return packed.mapInPandas(gen, PACKED_SCHEMA)


def tombstone_doc_stats(packed: DataFrame, doc_ids) -> tuple[int, int]:
    """Exact (doc count, sum of dl) of the tombstoned docs PRESENT in the
    index — the corpus-stat delta a purge applies (n_docs and sum_dl both
    shrink; avgdl is their ratio). One pass with the same binary-search
    range gate as the purge itself: segments whose doc range misses every
    tombstone are skipped without decoding; intersecting ones decode and
    emit their tombstoned (doc_id, dl) pairs, deduped across terms (a
    doc's dl is the same in every posting) before the final count/sum."""
    tomb = _as_sorted_ids(doc_ids)

    def gen(batches):
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                lo = np.searchsorted(tomb, int(r.first_doc), side="left")
                hi = np.searchsorted(tomb, int(r.last_doc), side="right")
                if lo == hi:
                    continue
                dec = decode_postings(bytes(r.doc_gaps), bytes(r.tfs),
                                      bytes(r.dls))
                hit = np.isin(dec.doc_ids, tomb[lo:hi])
                if hit.any():
                    outs.append(pd.DataFrame({"doc_id": dec.doc_ids[hit],
                                              "dl": dec.dls[hit]}))
            if outs:
                # partition-local dedup before the exchange: a doc hit by
                # many terms in this batch shrinks to one row here, the
                # global distinct() then only reconciles across partitions
                yield pd.concat(outs, ignore_index=True).drop_duplicates()

    pairs = packed.mapInPandas(gen, "doc_id long, dl long").distinct()
    row = pairs.agg(F.count("*").alias("n"),
                    F.coalesce(F.sum("dl"), F.lit(0)).alias("s")).collect()[0]
    return int(row["n"]), int(row["s"])


def unpack_to_rows(packed: DataFrame) -> DataFrame:
    """Inverse of build_packed_postings (for tests/round-trips):
    packed segments -> (term, doc_id, tf, dl) rows."""

    def unpack(batches):
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                dec = decode_postings(bytes(r.doc_gaps), bytes(r.tfs), bytes(r.dls))
                outs.append(pd.DataFrame({
                    "term": r.term,
                    "doc_id": dec.doc_ids,
                    "tf": dec.tfs,
                    "dl": dec.dls,
                }))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    schema = T.StructType([
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("tf", T.LongType()),
        T.StructField("dl", T.LongType()),
    ])
    return packed.mapInPandas(unpack, schema)
