"""Posting-list physical format: delta-gap + LEB128 varint, numpy-vectorized.

The reference stores a posting list as one giant ``"url:tf, url:tf, ..."``
string per term (`jobs/Indexer.java:309-415`). Ours is the standard IR
format the north rule asks for: per (term, doc-shard) blobs of

    doc_gaps : varint(first_doc, doc_id diffs)   -- monotone ascending docs
    tfs      : varint(tf values)
    dls      : varint(doc lengths)               -- Lucene-style norms inline

plus block metadata every BLOCK postings (last doc_id and max BM25
tf-normalization per block) for block-max pruning and cheap shard merges.

Both encode and decode are vectorized: encode does <=10 masked passes (one
per possible varint byte), decode reconstructs values with one scatter-add
over byte groups. No per-value Python.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

BLOCK = 128
K1 = 1.2
B = 0.75


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Byte length of each value's LEB128 encoding: ceil(bit_length/7), min 1."""
    v = np.asarray(values, dtype=np.uint64)
    bl = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        bl[nz] += 1
        tmp = tmp >> np.uint64(7)
    np.maximum(bl, 1, out=bl)
    return bl


def varint_encode(values: np.ndarray,
                  lengths: np.ndarray | None = None) -> bytes:
    """LEB128-encode a uint64 array (vectorized, <=10 passes). Pass
    ``lengths`` (from varint_lengths) to reuse an already-computed byte
    length pass."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    bl = varint_lengths(v) if lengths is None else lengths
    ends = np.cumsum(bl)
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    starts = ends - bl
    for i in range(int(bl.max())):
        mask = bl > i
        pos = starts[mask] + i
        chunk = (v[mask] >> np.uint64(7 * i)).astype(np.uint64) & np.uint64(0x7F)
        cont = np.where(bl[mask] > i + 1, 0x80, 0).astype(np.uint8)
        out[pos] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes -> uint64 array (vectorized scatter-add)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    value_id = np.zeros(b.size, dtype=np.int64)
    value_id[1:] = np.cumsum(is_end)[:-1]
    n = int(value_id[-1]) + 1
    group_start = np.zeros(n, dtype=np.int64)
    ends_idx = np.nonzero(is_end)[0]
    group_start[1:] = ends_idx[:-1] + 1
    within = np.arange(b.size, dtype=np.int64) - group_start[value_id]
    vals = np.zeros(n, dtype=np.uint64)
    np.add.at(vals, value_id,
              (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * within.astype(np.uint64)))
    return vals


class PackedPostings(NamedTuple):
    """One (term, shard) posting segment, decoded view (doc ids first, the
    order every segment family's decode returns)."""
    doc_ids: np.ndarray  # int64 ascending
    tfs: np.ndarray      # int64
    dls: np.ndarray      # int64


def tf_norm(tfs: np.ndarray, dls: np.ndarray, avgdl: float,
            k1: float = K1, b: float = B) -> np.ndarray:
    """BM25 term-frequency normalization (idf-independent part), float64."""
    tfs = tfs.astype(np.float64)
    return tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl))


def _block_byte_ends(lengths: np.ndarray) -> bytes:
    """Cumulative byte END offset of each BLOCK-sized group within a varint
    stream, given the per-value byte lengths — lets a reader slice out and
    decode one block without touching the rest of the stream. PACKED as
    little-endian int64 bytes (np.frombuffer to read): a plain binary cell
    costs the columnar cache one copy, where an array<long> column pays
    per-element boxing on every scan."""
    n = lengths.size
    if not n:
        return b""
    if n <= BLOCK:
        # single block: its end offset IS the stream's total byte length.
        # Rare terms dominate any zipf-distributed vocabulary, so this path
        # carries most calls and skips the cumsum/index machinery (measured
        # ~10% of whole-segment encode time across a realistic df mix).
        return int(lengths.sum()).to_bytes(8, "little")
    ends = np.cumsum(lengths)
    n_blocks = (n + BLOCK - 1) // BLOCK
    idx = np.minimum(np.arange(1, n_blocks + 1) * BLOCK - 1, n - 1)
    return ends[idx].astype("<i8").tobytes()


def block_ends_array(buf: bytes) -> np.ndarray:
    """Decode a _block_byte_ends cell back to an int64 offset array."""
    return np.frombuffer(buf, dtype="<i8")


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                    avgdl: float) -> dict:
    """Pack one sorted posting run into blobs + block metadata.

    Returns dict with keys: df, first_doc, doc_gaps, tfs, dls,
    block_last_doc, block_max_tf_norm, max_tf_norm, plus per-block byte
    end offsets (block_gap_ends / block_tf_ends / block_dl_ends) enabling
    single-block decode, and enc_avgdl — the avgdl the block-max norms
    were computed with, so a reader under a DRIFTED corpus avgdl (after
    incremental appends) can rescale the stored bounds soundly:
    tf_norm is increasing in avgdl and tf_norm(avgdl_now) <=
    tf_norm(avgdl_enc) * max(1, avgdl_now/avgdl_enc) <= K1+1.
    """
    order = np.argsort(doc_ids, kind="stable")
    doc_ids = np.asarray(doc_ids, dtype=np.int64)[order]
    tfs = np.asarray(tfs, dtype=np.int64)[order]
    dls = np.asarray(dls, dtype=np.int64)[order]
    gaps = np.empty_like(doc_ids)
    if doc_ids.size:
        gaps[0] = doc_ids[0]
        np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])
    norms = tf_norm(tfs, dls, avgdl)
    n = doc_ids.size
    n_blocks = (n + BLOCK - 1) // BLOCK
    block_last = doc_ids[np.minimum(np.arange(1, n_blocks + 1) * BLOCK - 1, n - 1)]
    block_max = (np.maximum.reduceat(norms, np.arange(0, n, BLOCK))
                 if n else np.empty(0, dtype=np.float64))
    ugaps = gaps.astype(np.uint64)
    utfs = tfs.astype(np.uint64)
    udls = dls.astype(np.uint64)
    gl, tl, dl_ = varint_lengths(ugaps), varint_lengths(utfs), varint_lengths(udls)
    return {
        "df": int(n),
        "first_doc": int(doc_ids[0]) if n else 0,
        "doc_gaps": varint_encode(ugaps, gl),
        "tfs": varint_encode(utfs, tl),
        "dls": varint_encode(udls, dl_),
        "block_last_doc": block_last.tolist(),
        "block_max_tf_norm": block_max.tolist(),
        "max_tf_norm": float(norms.max()) if n else 0.0,
        "block_gap_ends": _block_byte_ends(gl),
        "block_tf_ends": _block_byte_ends(tl),
        "block_dl_ends": _block_byte_ends(dl_),
        "enc_avgdl": float(avgdl),
    }


def decode_postings(doc_gaps: bytes, tfs: bytes, dls: bytes) -> PackedPostings:
    gaps = varint_decode(doc_gaps).astype(np.int64)
    return PackedPostings(
        doc_ids=np.cumsum(gaps),
        tfs=varint_decode(tfs).astype(np.int64),
        dls=varint_decode(dls).astype(np.int64),
    )


def splice_gap_streams(first_a: int, gaps_a: bytes, last_doc_a: int,
                       first_b: int, gaps_b: bytes) -> bytes:
    """Concatenate two encoded gap streams where run B's docs all follow
    run A's: only B's FIRST varint (its absolute first doc) must be
    rewritten as a gap from A's last doc. O(1) decode work — the rest of
    both streams is byte-copied. This is what makes hierarchical shard
    merges cheap."""
    b = np.frombuffer(gaps_b, dtype=np.uint8)
    # length of B's first varint
    i = 0
    while b[i] & 0x80:
        i += 1
    new_first = varint_encode(np.array([first_b - last_doc_a], dtype=np.uint64))
    return gaps_a + new_first + gaps_b[i + 1:]
