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

import operator
from contextlib import contextmanager
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codec import (block_ends_array, decode_postings, encode_postings,
                    splice_gap_streams)

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
                schema: T.StructType, exchange: bool = True) -> DataFrame:
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
    ``exchange=False`` skips the exchange: each partition encodes the runs
    it holds, so a (term, shard) split across partitions leaves one
    segment per partition (`build_packed_postings_local` splices those).

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

    rows = rows.select("term", "shard_id", *cols)
    if exchange:
        rows = rows.repartition("term", "shard_id")
    return (rows.sortWithinPartitions("term", "shard_id", *cols)
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


def serving_layout(segments: DataFrame) -> DataFrame:
    """The served index: ``segments`` hash-partitioned on shard_id over
    defaultParallelism and cached (lazily: the first action builds it).
    A per-shard kernel's ``groupBy("shard_id")`` then finds its clustered
    distribution already met, so a warm query is one exchange-free scan
    stage; two tables in this layout (TF and positions) cogroup per shard
    without an exchange too."""
    n = segments.sparkSession.sparkContext.defaultParallelism
    return segments.repartition(n, "shard_id").cache()


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

    Each partition is sorted locally and encoded by the same run-cutting
    pass as `encode_runs`, so a task holds one Arrow batch plus one run.

    Byte-identical to `build_packed_postings` output (test-enforced).
    """
    src = tf_dl.select("term", "doc_id", "tf", "dl")
    # Boundary shards are TERM-INDEPENDENT: a shard needs splicing iff its
    # doc range spans a partition boundary — at most one shard id per
    # boundary, found from per-partition doc ranges with one narrow pass
    # (no join against the blob-carrying segment rows).
    ranges = _partition_doc_ranges(src)
    for prev, r in zip(ranges, ranges[1:]):
        if r[0] <= prev[1]:
            raise ValueError(
                "build_packed_postings_local requires doc-range-partitioned "
                f"input, but partition doc ranges overlap: "
                f"[{prev[0]},{prev[1]}] vs [{r[0]},{r[1]}] "
                "(interleaved posting runs) — use build_packed_postings")
    boundary_ids = sorted({
        r[0] // shard_span for prev, r in zip(ranges, ranges[1:])
        if r[0] // shard_span == prev[1] // shard_span})

    with_shard = src.withColumn(
        "shard_id", (F.col("doc_id") / F.lit(shard_span)).cast("int"))
    segs = encode_runs(with_shard, ("doc_id", "tf", "dl"),
                       lambda docs, tfs, dls: _tf_segment(docs, tfs, dls,
                                                          avgdl),
                       PACKED_SCHEMA, exchange=False)
    if not boundary_ids:
        return _attach_totals(segs, src)
    segs = segs.persist()
    whole = segs.where(~F.col("shard_id").isin(boundary_ids))
    spliced = merge_packed(segs.where(F.col("shard_id").isin(boundary_ids)),
                           level_factor=1)
    return _attach_totals(whole.unionByName(spliced), src)


def _partition_doc_ranges(rows: DataFrame) -> list[tuple[int, int]]:
    """(min, max) doc_id of each non-empty partition of ``rows``, sorted:
    one narrow pass, one Spark job."""
    def minmax(batches):
        lo = hi = None
        for pdf in batches:
            if len(pdf):
                d = pdf["doc_id"]
                lo = d.min() if lo is None else min(lo, d.min())
                hi = d.max() if hi is None else max(hi, d.max())
        if lo is not None:
            yield pd.DataFrame({"lo": [lo], "hi": [hi]})

    return sorted((int(r["lo"]), int(r["hi"])) for r in
                  rows.select("doc_id").mapInPandas(minmax, "lo long, hi long")
                  .collect())


class SegmentFamily(NamedTuple):
    """One segment format as the lifecycle operators see it.

    `merge_segments`, `purge_segments`, `splice_boundary` and
    `append_segments` are written once and read everything that differs
    between the TF (`TF_FAMILY`) and the positional
    (`positions.POS_FAMILY`) segments from here: both are doc-gap-led
    varint streams with per-128-doc block metadata, so a merge splices
    the gap stream, concatenates the other two streams and the array
    columns, and shifts the block byte-END offsets."""
    schema: T.StructType
    # the value blobs, doc_gaps first (the stream a merge splices), then
    # the family's two (a merge concatenates them)
    streams: tuple[str, str, str]
    # per-block byte END offsets into each of ``streams``, same order
    ends: tuple[str, str, str]
    # how a merge folds a scalar column across a term's runs; scalars
    # not named here keep the first run's value
    folds: dict[str, Callable]
    # the three stream blobs -> decoded arrays, doc ids first
    decode: Callable[..., tuple]
    # (segment row, its decode, keep mask over its docs) -> the non-key
    # columns of a segment holding only the kept docs
    reencode: Callable[..., dict]

    @property
    def cols(self) -> list[str]:
        return [f.name for f in self.schema.fields]


TF_FAMILY = SegmentFamily(
    schema=PACKED_SCHEMA,
    streams=("doc_gaps", "tfs", "dls"),
    ends=("block_gap_ends", "block_tf_ends", "block_dl_ends"),
    # bound rescale uses max(1, avgdl_now/enc_avgdl): taking the MIN of
    # merged runs' enc_avgdl over-corrects the other runs' bounds, which
    # keeps them sound (larger upper bound, never smaller)
    folds={"df": operator.add, "max_tf_norm": max, "enc_avgdl": min},
    decode=decode_postings,
    # a purge re-encode keeps the segment's own enc_avgdl, so block-max
    # bounds stay sound under the reader's drift rescale
    reencode=lambda r, dec, keep: _tf_segment(
        dec.doc_ids[keep], dec.tfs[keep], dec.dls[keep],
        float(r.enc_avgdl)))


def merge_segments(segments: DataFrame, family: SegmentFamily,
                   level_factor: int) -> DataFrame:
    """One hierarchical merge level: coalesce up to ``level_factor``
    adjacent doc-shards of each term into one segment via gap-stream
    splicing.

    new shard_id = old shard_id DIV level_factor. Exactly reproduces the
    value streams a full re-encode would produce (gaps are identical by
    construction, every other stream is per-doc); block metadata
    concatenates unchanged — block boundaries simply stay where the
    original runs put them (byte offsets are shifted to the merged
    stream).

    Memory: grouping is per TARGET shard, so one pandas task holds every
    term's segment blobs for level_factor * shard_span docs of postings —
    at the defaults (8 * 1M postings, each a handful of varint bytes)
    tens of MB per task. Grouping per (term, shard) instead would bound
    memory at shard_span but pay one applyInPandas call and one pandas
    frame per segment — the per-group cost `encode_runs` avoids for the
    encoders (an encode holds one Arrow batch plus one group).
    """
    cols = family.cols
    arrays = [f.name for f in family.schema.fields
              if isinstance(f.dataType, T.ArrayType)]

    def merge_one(new_shard: int, g: pd.DataFrame) -> dict:
        # first_doc tiebreak: an incremental append can put TWO segments in
        # the same (term, shard) -- old and new doc ranges are disjoint, so
        # first_doc orders the splice correctly
        g = g.sort_values(["shard_id", "first_doc"])
        acc, *rest = g.itertuples(index=False)
        out = {c: getattr(acc, c) for c in cols}
        gaps = bytes(acc.doc_gaps)
        blobs = [bytearray(getattr(acc, c)) for c in family.streams[1:]]
        ends = [[block_ends_array(bytes(getattr(acc, c)))]
                for c in family.ends]
        lists = {c: list(getattr(acc, c)) for c in arrays}
        last_doc = int(acc.last_doc)
        for r in rest:
            if int(r.first_doc) <= last_doc:
                # guards build_packed_postings_local misuse: splicing is
                # only valid when runs cover disjoint ascending doc ranges
                raise ValueError(
                    f"interleaved posting runs for term={acc.term!r} "
                    f"shard={acc.shard_id}: run starting at "
                    f"{r.first_doc} overlaps previous end {last_doc} "
                    "(input not doc-range partitioned?)")
            r_gaps = bytes(r.doc_gaps)
            gaps = splice_gap_streams(0, gaps, last_doc, int(r.first_doc),
                                      r_gaps)
            # r's first varint was rewritten as a gap; its byte offsets
            # shift by the accumulated prefix plus that length delta —
            # together: the combined length minus r's own stream length.
            # The other streams' offsets shift by their prefix length.
            shifts = [len(gaps) - len(r_gaps)] + [len(b) for b in blobs]
            for part, c, shift in zip(ends, family.ends, shifts):
                part.append(block_ends_array(bytes(getattr(r, c))) + shift)
            for b, c in zip(blobs, family.streams[1:]):
                b += bytes(getattr(r, c))
            for c in arrays:
                lists[c] += list(getattr(r, c))
            for c, fold in family.folds.items():
                out[c] = fold(out[c], getattr(r, c))
            last_doc = int(r.last_doc)
        out.update(zip(family.streams, [gaps, *map(bytes, blobs)]))
        out.update((c, np.concatenate(part).astype("<i8").tobytes())
                   for c, part in zip(family.ends, ends))
        out.update(lists, shard_id=new_shard, last_doc=last_doc)
        return out

    # ONE pandas group per target shard (not per (term, shard)): a merge
    # group is all the terms of one merged shard, looped internally, so the
    # per-call cost is paid per shard rather than per segment.
    def merge_shard(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = [merge_one(int(key[0]), g)
               for _, g in pdf.groupby("term", sort=False)]
        return pd.DataFrame(out, columns=cols)

    return (segments
            .withColumn("_new_shard",
                        (F.col("shard_id") / F.lit(level_factor)).cast("int"))
            .groupBy("_new_shard").applyInPandas(merge_shard, family.schema))


def splice_boundary(old: DataFrame, new: DataFrame, bshard: int,
                    family: SegmentFamily) -> DataFrame:
    """``new``'s segments with the boundary shard ``bshard`` — the one
    shard where old and new doc ranges meet — spliced onto ``old``'s copy
    of it: a level-1 merge of both copies of that shard (a byte splice),
    plus ``new``'s shards above it. Every new doc must follow every old
    one. Shared by `append_segments` and the streaming sink, which reads
    ``old`` from the last manifest entry only."""
    cols = family.cols
    at_b = F.col("shard_id") == bshard
    both = old.where(at_b).select(*cols).unionByName(
        new.where(at_b).select(*cols))
    return merge_segments(both, family, level_factor=1).unionByName(
        new.where(F.col("shard_id") > bshard).select(*cols))


def append_segments(old: DataFrame, new_rows: DataFrame, new_seg: DataFrame,
                    family: SegmentFamily) -> DataFrame:
    """Incremental index append: fold ``new_seg`` (the segments encoded
    from ``new_rows``, same shard_span) into ``old`` without re-encoding
    the old segments. Every segment passes through untouched except the
    single boundary shard, which `splice_boundary` byte-splices, so an
    append costs O(new data + one shard), not a rewrite of the index."""
    old_top = old.agg(F.max("shard_id").alias("s"),
                      F.max("last_doc").alias("d")).collect()[0]
    bshard = old_top["s"]
    if bshard is None:  # appending to an empty index
        return new_seg
    # Validate the append-only precondition: new doc_ids below the old
    # index's covered range would land duplicate (term, shard) segments in
    # shards BELOW bshard, flow through unmerged, and silently corrupt
    # queries. Cheap check (two tiny aggs) — fail loudly instead.
    new_min = new_rows.agg(F.min("doc_id")).collect()[0][0]
    if new_min is not None and int(new_min) <= int(old_top["d"]):
        raise ValueError(
            f"append requires append-only doc identity: new min doc_id "
            f"{new_min} <= existing max doc {old_top['d']} (interleaved "
            "posting runs) — rebuild instead of appending")
    return (old.where(F.col("shard_id") != bshard).select(*family.cols)
            .unionByName(splice_boundary(old, new_seg, bshard, family)))


def _tombstoned(tomb: np.ndarray, r, family: SegmentFamily):
    """The range gate of every tombstone pass: two binary searches decide
    whether segment ``r``'s [first_doc, last_doc] holds a tombstone, so a
    segment outside every tombstone pays no decode. Returns None when no
    doc of the segment is tombstoned, else (its decode, the mask of its
    tombstoned docs)."""
    lo = np.searchsorted(tomb, int(r.first_doc), side="left")
    hi = np.searchsorted(tomb, int(r.last_doc), side="right")
    if lo == hi:
        return None
    dec = family.decode(*(bytes(getattr(r, c)) for c in family.streams))
    hit = np.isin(dec[0], tomb[lo:hi])
    return (dec, hit) if hit.any() else None


def _purger(tomb: np.ndarray, family: SegmentFamily, counted: bool):
    """The purge pass's mapInPandas body (see `purge_segments`). With
    ``counted`` (TF family) every input segment leaves one row instead:
    flagged ``live`` when it survives (untouched or re-encoded), a fully
    deleted one with its original columns and live false, and each with
    the tombstoned docs it held as ``gone_docs``/``gone_dls`` (null when
    none) — so the segment columns keep their non-null schema."""
    cols = family.cols
    names = cols + ["live", "gone_docs", "gone_dls"] if counted else cols

    def gen(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                row = {c: getattr(r, c) for c in cols}
                if counted:
                    row.update(live=True, gone_docs=None, gone_dls=None)
                hits = _tombstoned(tomb, r, family)
                if hits is not None:
                    dec, hit = hits
                    if counted:
                        row.update(gone_docs=dec.doc_ids[hit],
                                   gone_dls=dec.dls[hit])
                    if not hit.all():
                        row.update(family.reencode(r, dec, ~hit))
                    elif counted:
                        row["live"] = False
                    else:
                        continue
                out.append(row)
            if out:
                yield pd.DataFrame(out, columns=names)

    return gen


def purge_segments(segments: DataFrame, tomb: np.ndarray,
                   family: SegmentFamily) -> DataFrame:
    """The purge mapInPandas pass: remove the sorted doc ids ``tomb`` from
    the segments. A segment without a tombstoned doc passes through
    byte-untouched (test-enforced), a fully deleted one drops out (a
    fully deleted term with it), the rest re-encode their surviving docs.
    Stored TF global_df is left STALE — `purge_docs` recomputes it via
    with_global_df; the streaming compactor writes its own totals table.

    Scale: the tombstone array rides the task closure (8 bytes per delete
    — a million deletes is 8 MB)."""
    return segments.mapInPandas(_purger(tomb, family, counted=False),
                                family.schema)


_COUNTED_SCHEMA = T.StructType(
    PACKED_SCHEMA.fields
    + [T.StructField("live", T.BooleanType(), False),
       T.StructField("gone_docs", T.ArrayType(T.LongType()), True),
       T.StructField("gone_dls", T.ArrayType(T.LongType()), True)])


@contextmanager
def purge_counting(segments: DataFrame, doc_ids):
    """`purge_segments` over TF segments that counts what it removes in
    the SAME decode pass. Yields (the purged segments, n_del, dl_del):
    the exact doc count and dl sum of the tombstoned docs present in the
    index — the corpus-stat delta a purge applies (n_docs and sum_dl both
    shrink; avgdl is their ratio). A doc's dl is the same in every
    posting, so its pairs dedup across terms. The pass's output stays
    persisted inside the ``with`` block: the count runs it once and a
    write of the purged segments reads the cache instead of decoding
    again."""
    tomb = _as_sorted_ids(doc_ids)
    swept = segments.mapInPandas(_purger(tomb, TF_FAMILY, counted=True),
                                 _COUNTED_SCHEMA).persist()
    try:
        row = (swept.select(F.inline(F.arrays_zip("gone_docs", "gone_dls")))
               .distinct()
               .agg(F.count("*").alias("n"),
                    F.coalesce(F.sum("gone_dls"), F.lit(0)).alias("s"))
               .collect()[0])
        yield (swept.where("live").select(*TF_FAMILY.cols),
               int(row["n"]), int(row["s"]))
    finally:
        swept.unpersist()


def merge_packed(packed: DataFrame, level_factor: int = 8) -> DataFrame:
    """One hierarchical merge level of TF segments (`merge_segments`)."""
    return merge_segments(packed, TF_FAMILY, level_factor)


def append_packed(old_packed: DataFrame, new_term_doc_tf: DataFrame,
                  avgdl: float,
                  shard_span: int = DEFAULT_SHARD_SPAN) -> DataFrame:
    """Incremental index append: fold NEW docs' postings into an existing
    packed index without re-encoding the old segments.

    Requires append-only doc identity: every new doc_id exceeds every old
    doc_id (the stable-docID discipline gives this for appended
    conversations, which sort after existing ones). New postings are
    encoded into segments with the same shard_span and folded in by
    `append_segments` (an identity for untouched shards, a byte splice
    for the one boundary shard); term totals (the idf input) are
    recomputed over the segment table. Posting bytes are identical to a
    full rebuild (gaps depend only on docIDs/tfs/dls); only the advisory
    block-max metadata reflects encode-time avgdl, which the query path
    no longer relies on (wand.py derives exact bounds from decoded norms).
    """
    new_seg = build_packed_postings(new_term_doc_tf, avgdl,
                                    shard_span=shard_span)
    return with_global_df(
        append_segments(old_packed, new_term_doc_tf, new_seg, TF_FAMILY))


def purge_docs(packed: DataFrame, doc_ids) -> DataFrame:
    """Physical tombstone purge: remove the given doc_ids' postings from a
    packed index, re-encoding ONLY the segments that hold a tombstoned doc
    (`purge_segments`); every other segment's blobs pass through
    byte-untouched. Term totals (global_df, the idf input) are recomputed
    over the segment table via the usual broadcast join.

    This is the delete half of the LSM lifecycle: a deployment records
    deletes as a tombstone doc-id set beside the index (O(1) metadata per
    delete) and folds them in here at compaction time. The reference has
    no delete path at all (its Indexer is build-once); this is deployment
    surface the Spark engine adds.
    """
    return with_global_df(
        purge_segments(packed, _as_sorted_ids(doc_ids), TF_FAMILY))


def _as_sorted_ids(doc_ids) -> np.ndarray:
    """Normalize an iterable of doc ids to the sorted unique int64 array
    every tombstone path keys its binary searches on (shared by
    purge_docs / purge_counting / wand_topk's blocked mask)."""
    return np.unique(np.fromiter((int(d) for d in doc_ids), dtype=np.int64))


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
