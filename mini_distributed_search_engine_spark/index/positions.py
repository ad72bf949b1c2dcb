"""Packed (compressed) positional index: per-(term, doc-shard) binary
segments of term POSITIONS — the physical format beneath phrase and
proximity queries.

The row layout (`functions/analyzer.py::term_positions_pandas`, one row
per token occurrence) is O(token occurrences) parquet rows — the one
index structure the TF postings' round-1 compression never reached, and
~10x bigger at rest than it needs to be at 100 TB. This module gives
positions the same discipline the TF postings got (`index/packed.py`):
doc-gap + per-doc position-delta varint blobs per (term, doc-range
shard), per-128-doc block metadata with byte END offsets into each
stream so a reader can decode ONE block without touching the rest
(candidate-doc position lookup in the proximity kernel), and the same
doc-range sharding that makes per-shard kernels exact (shards partition
the doc space).

Reference anchor: the posting-string format this family replaces is the
reference's one-giant-string-per-term index (`jobs/Indexer.java:309-415`,
"url:tf, url:tf" — no positions at all); phrase and proximity are our
extensions, so the parity bar is the DuckDB oracle (gated) and the
pure-Python references `phrase_count_pandas` / `proximity_scores_pandas`
(rank-identity test-enforced).

Blob layout per (term, shard) segment, all LEB128 varint (codec.py):

    doc_gaps   : varint(first_doc, doc_id diffs)      -- ascending docs
    pos_counts : varint(#positions of each doc)       -- aligned with docs
    pos_deltas : varint(first_pos, pos diffs) PER DOC -- resets every doc

Positions are within-doc ascending, so per-doc deltas are small (~1-2
bytes each); a position costs ~1 byte at rest vs ~20+ for a parquet row.

Shard alignment: ``build_packed_positions(shard_bounds=...)`` assigns
segments to EXISTING doc-range shards (e.g. the engine's packed TF index
after hierarchical merges) by binary search over the shard lower bounds,
so a positional segment always shares its shard_id with the TF segments
covering the same docs — what lets the proximity kernel cogroup the two
packed tables per shard with no row-level join.
"""

from __future__ import annotations

import operator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codec import (BLOCK, block_ends_array, varint_decode, varint_encode,
                    varint_lengths)
from .packed import (DEFAULT_SHARD_SPAN, SegmentFamily, _as_sorted_ids,
                     append_segments, encode_runs, merge_segments,
                     purge_segments)

POS_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("shard_id", T.IntegerType(), False),
    T.StructField("df", T.LongType(), False),        # docs in segment
    T.StructField("n_pos", T.LongType(), False),     # total positions
    T.StructField("first_doc", T.LongType(), False),
    T.StructField("last_doc", T.LongType(), False),
    T.StructField("doc_gaps", T.BinaryType(), False),
    T.StructField("pos_counts", T.BinaryType(), False),
    T.StructField("pos_deltas", T.BinaryType(), False),
    T.StructField("block_last_doc", T.ArrayType(T.LongType()), False),
    # per-128-doc-block byte END offsets into the three blobs (same
    # binary int64 packing rationale as PACKED_SCHEMA.block_gap_ends)
    T.StructField("block_gap_ends", T.BinaryType(), False),
    T.StructField("block_cnt_ends", T.BinaryType(), False),
    T.StructField("block_pos_ends", T.BinaryType(), False),
])


def encode_positions(doc_ids: np.ndarray, poss: np.ndarray) -> dict:
    """Pack one (term, shard)'s occurrence rows (doc_id, pos) into blobs +
    per-128-doc block metadata. Rows need not arrive sorted."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    poss = np.asarray(poss, dtype=np.int64)
    order = np.lexsort((poss, doc_ids))
    doc_ids, poss = doc_ids[order], poss[order]
    docs, counts = np.unique(doc_ids, return_counts=True)
    n = docs.size
    gaps = np.empty_like(docs)
    gaps[0] = docs[0]
    np.subtract(docs[1:], docs[:-1], out=gaps[1:])
    # per-doc position deltas: first pos absolute, then in-doc diffs —
    # one vectorized pass (diff everywhere, then overwrite doc starts)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    deltas = np.empty_like(poss)
    deltas[0] = poss[0]
    np.subtract(poss[1:], poss[:-1], out=deltas[1:])
    deltas[starts] = poss[starts]

    n_blocks = (n + BLOCK - 1) // BLOCK
    blk_doc_idx = np.minimum(np.arange(1, n_blocks + 1) * BLOCK - 1, n - 1)
    block_last = docs[blk_doc_idx]
    gl = varint_lengths(gaps.astype(np.uint64))
    cl = varint_lengths(counts.astype(np.uint64))
    pl = varint_lengths(deltas.astype(np.uint64))
    # byte ends per doc-block: gaps/counts are one value per doc (plain
    # BLOCK grouping); pos_deltas blocks end where the block's LAST doc's
    # positions end (cumsum of counts maps doc index -> value index)
    gap_ends = np.cumsum(gl)[blk_doc_idx]
    cnt_ends = np.cumsum(cl)[blk_doc_idx]
    val_ends = np.cumsum(counts)[blk_doc_idx]  # positions, 1-based
    pos_ends = np.cumsum(pl)[val_ends - 1]
    return {
        "df": int(n),
        "n_pos": int(poss.size),
        "first_doc": int(docs[0]),
        "last_doc": int(docs[-1]),
        "doc_gaps": varint_encode(gaps.astype(np.uint64), gl),
        "pos_counts": varint_encode(counts.astype(np.uint64), cl),
        "pos_deltas": varint_encode(deltas.astype(np.uint64), pl),
        "block_last_doc": block_last.tolist(),
        "block_gap_ends": gap_ends.astype("<i8").tobytes(),
        "block_cnt_ends": cnt_ends.astype("<i8").tobytes(),
        "block_pos_ends": pos_ends.astype("<i8").tobytes(),
    }


def build_packed_positions(positions: DataFrame,
                           shard_span: int = DEFAULT_SHARD_SPAN,
                           shard_bounds: list[tuple[int, int]] | None = None
                           ) -> DataFrame:
    """(doc_id, term, pos) rows -> packed per-(term, shard) segments.

    One exchange on (term, shard_id) and one sorted-run encode pass
    (`packed.encode_runs`, rows sorted by doc_id then pos); a
    stop-word-hot term splits across doc shards, so a task holds one Arrow
    batch plus one group of at most shard_span docs' positions (same skew
    story as `packed.build_packed_postings`).

    ``shard_bounds`` ((lo, shard_id) pairs, e.g. from
    `wand.compute_shard_bounds` over a packed TF index) assigns docs to
    THOSE shards by binary search instead of ``doc_id // shard_span`` —
    use it to co-shard positions with an existing TF layout (merged
    levels included) so the proximity kernel can cogroup the two packed
    tables on shard_id. Docs below the first bound go to its shard.
    """
    if shard_bounds is not None:
        bounds = sorted(shard_bounds)
        los = np.array([lo for lo, _ in bounds], dtype=np.int64)
        sids = np.array([s for _, s in bounds], dtype=np.int32)

        @F.pandas_udf("int")
        def assign(d: pd.Series) -> pd.Series:
            idx = np.searchsorted(los, d.to_numpy(dtype=np.int64),
                                  side="right") - 1
            return pd.Series(sids[np.maximum(idx, 0)])

        with_shard = positions.withColumn("shard_id", assign("doc_id"))
    else:
        with_shard = positions.withColumn(
            "shard_id", (F.col("doc_id") / F.lit(shard_span)).cast("int"))
    return encode_runs(with_shard, ("doc_id", "pos"), encode_positions,
                       POS_SCHEMA)


def unpack_positions(packed_pos: DataFrame) -> DataFrame:
    """Inverse of build_packed_positions (tests/round-trip gate):
    packed segments -> (doc_id, term, pos) rows."""

    def unpack(batches):
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                docs, counts, flat = _decode_all(
                    bytes(r.doc_gaps), bytes(r.pos_counts),
                    bytes(r.pos_deltas))
                outs.append(pd.DataFrame({
                    "doc_id": np.repeat(docs, counts),
                    "term": r.term,
                    "pos": flat.astype("int32"),
                }))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return packed_pos.mapInPandas(
        unpack, "doc_id long, term string, pos int")


def _decode_all(doc_gaps: bytes, pos_counts: bytes, pos_deltas: bytes
                ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full segment decode -> (docs, counts, flat absolute positions)."""
    docs = np.cumsum(varint_decode(doc_gaps).astype(np.int64))
    counts = varint_decode(pos_counts).astype(np.int64)
    deltas = varint_decode(pos_deltas).astype(np.int64)
    return docs, counts, _abs_positions(deltas, counts)


def _abs_positions(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-doc delta streams (first value absolute) -> flat absolute
    positions: one global cumsum, then subtract each doc's inherited
    prefix (vectorized reset-at-doc-start)."""
    if not deltas.size:
        return deltas
    c = np.cumsum(deltas)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    prefix = np.where(starts > 0, c[np.maximum(starts - 1, 0)], 0)
    return c - np.repeat(prefix, counts)


def _keep_docs(r, dec: tuple, keep: np.ndarray) -> dict:
    """Re-encode a decoded segment's ``keep``-masked docs."""
    docs, counts, flat = dec
    return encode_positions(np.repeat(docs[keep], counts[keep]),
                            flat[np.repeat(keep, counts)])


POS_FAMILY = SegmentFamily(
    schema=POS_SCHEMA,
    streams=("doc_gaps", "pos_counts", "pos_deltas"),
    ends=("block_gap_ends", "block_cnt_ends", "block_pos_ends"),
    folds={"df": operator.add, "n_pos": operator.add},
    decode=_decode_all,
    reencode=_keep_docs)


class _PSeg:
    """One positional (term, shard) segment with lazy block decode.

    `lists_for(docs)` returns each queried doc's position array, decoding
    only the 128-doc blocks that can contain those docs (byte ranges from
    the stored block END offsets) — a hot term consulted at k candidate
    docs decodes ~k blocks, not the shard. Mirrors `wand._Seg.lookup`.
    """
    __slots__ = ("first_doc", "df", "_gaps", "_cnts", "_pos",
                 "_block_last", "_gap_ends", "_cnt_ends", "_pos_ends",
                 "_full", "_docs")

    def __init__(self, r):
        self.first_doc = int(r.first_doc)
        self.df = int(r.df)
        self._gaps = bytes(r.doc_gaps)
        self._cnts = bytes(r.pos_counts)
        self._pos = bytes(r.pos_deltas)
        self._block_last = np.asarray(r.block_last_doc, dtype=np.int64)
        self._gap_ends = block_ends_array(bytes(r.block_gap_ends))
        self._cnt_ends = block_ends_array(bytes(r.block_cnt_ends))
        self._pos_ends = block_ends_array(bytes(r.block_pos_ends))
        self._full = None
        self._docs = None

    def docs(self) -> np.ndarray:
        """The segment's ascending doc ids — gap stream only (the phrase
        kernel drives candidate intersection off doc lists and decodes
        positions selectively afterwards)."""
        if self._full is not None:
            return self._full[0]
        if self._docs is None:
            self._docs = np.cumsum(varint_decode(self._gaps).astype(np.int64))
        return self._docs

    def full(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(docs, counts, flat positions) for the whole segment (memoized;
        reuses a `docs()`-memoized gap decode — the phrase kernel always
        decodes doc lists first, so hot segments skip the largest varint
        pass here)."""
        if self._full is None:
            docs = self.docs()
            counts = varint_decode(self._cnts).astype(np.int64)
            deltas = varint_decode(self._pos).astype(np.int64)
            self._full = (docs, counts, _abs_positions(deltas, counts))
        return self._full

    def _decode_blocks(self, need: np.ndarray
                       ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Decode ONLY blocks ``need`` (sorted ascending): slice their
        byte ranges, one vectorized varint pass per stream, rebuild
        absolute doc ids from the block base (same math as
        `wand._Seg._bulk_blocks`) and absolute positions from the
        per-doc resets (self-contained: every doc's first delta is its
        absolute first position)."""
        ge, ce, pe = self._gap_ends, self._cnt_ends, self._pos_ends
        g0 = np.where(need > 0, ge[need - 1], 0)
        c0 = np.where(need > 0, ce[need - 1], 0)
        p0 = np.where(need > 0, pe[need - 1], 0)
        gbuf = b"".join([self._gaps[a:b] for a, b in zip(g0, ge[need])])
        gaps = varint_decode(gbuf).astype(np.int64)
        counts = varint_decode(b"".join(
            [self._cnts[a:b] for a, b in zip(c0, ce[need])])).astype(np.int64)
        deltas = varint_decode(b"".join(
            [self._pos[a:b] for a, b in zip(p0, pe[need])])).astype(np.int64)
        # per-block doc counts from the gap varint terminators (gaps are
        # one value per doc), to rebuild each block's absolute doc ids
        barr = np.frombuffer(gbuf, dtype=np.uint8)
        end_cum = np.cumsum((barr & 0x80) == 0)
        byte_ends = np.cumsum((ge[need] - g0).astype(np.int64))
        cnt = end_cum[byte_ends - 1]
        sizes = np.diff(np.concatenate([[0], cnt]))
        starts = np.concatenate([[0], cnt[:-1]])
        csum = np.cumsum(gaps)
        prev_csum = np.where(starts > 0, csum[np.maximum(starts - 1, 0)], 0)
        base = np.where(need > 0, self._block_last[need - 1], 0)
        docs = csum + np.repeat(base - prev_csum, sizes)
        return docs, counts, _abs_positions(deltas, counts)

    def lists_for(self, docs: np.ndarray) -> list[np.ndarray]:
        """Position array per queried doc (sorted ascending input; empty
        array where the segment has no postings for the doc)."""
        empty = np.empty(0, dtype=np.int64)
        out: list[np.ndarray] = [empty] * docs.size
        if not self._block_last.size:
            return out
        if self._full is not None:
            d, counts, flat = self.full()
        else:
            bidx = np.searchsorted(self._block_last, docs)
            ok = (docs >= self.first_doc) & (bidx < self._block_last.size)
            need = np.unique(bidx[ok])
            if need.size == 0:
                return out
            if need.size * BLOCK * 2 >= self.df:
                d, counts, flat = self.full()
            else:
                d, counts, flat = self._decode_blocks(need)
        starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
        pos_idx = np.searchsorted(d, docs)
        pos_c = np.minimum(pos_idx, d.size - 1)
        hit = d[pos_c] == docs
        for i in np.nonzero(hit)[0]:
            j = pos_c[i]
            out[i] = flat[starts[j]:starts[j] + counts[j]]
        return out


def merge_packed_positions(packed_pos: DataFrame,
                           level_factor: int = 8) -> DataFrame:
    """One hierarchical merge level of positional segments
    (`packed.merge_segments`): counts and position deltas concatenate
    unchanged because every doc's delta stream is self-contained; exactly
    reproduces a full re-encode's streams (test-enforced)."""
    return merge_segments(packed_pos, POS_FAMILY, level_factor)


def purge_positions(packed_pos: DataFrame, doc_ids) -> DataFrame:
    """Physical tombstone purge for positional segments
    (`packed.purge_segments`). Run it at compaction time beside the TF
    purge so phrase/proximity stop matching deleted docs once the
    query-time tombstone set resets."""
    return purge_segments(packed_pos, _as_sorted_ids(doc_ids), POS_FAMILY)


def append_packed_positions(old_packed: DataFrame, new_positions: DataFrame,
                            shard_span: int = DEFAULT_SHARD_SPAN
                            ) -> DataFrame:
    """Incremental positional append (`packed.append_segments`): fold NEW
    docs' positions into an existing packed positional index without
    re-encoding old segments. Requires append-only doc identity (every
    new doc_id exceeds every old one — the stable-docID discipline)."""
    return append_segments(
        old_packed, new_positions,
        build_packed_positions(new_positions, shard_span=shard_span),
        POS_FAMILY)
