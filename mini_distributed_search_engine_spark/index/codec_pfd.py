"""PForDelta (NewPFD-style) posting compression — the second codec of the
"varint/PForDelta" pair the north rule names.

Public-format background: PForDelta (Zukowski et al., ICDE 2006) bit-packs
each 128-value block at a width ``b`` chosen per block, storing the few
values that don't fit ("exceptions") out of line; the NewPFD refinement
(Yan, Ding, Suel, WWW 2009) patches each exception's LOW ``b`` bits into
the packed array and stores only its overflow high bits, so decode is one
bit-unpack plus a sparse scatter-OR. That is the variant here.

Stream layout (self-contained, one blob per value stream):

    u32le  n_values
    meta   2 bytes per 128-value block: [b, n_exceptions]
    packed per-block ceil(count*b/8) bytes of b-bit little-significance
           bit-packed low parts (each block byte-aligned independently,
           so equal-shaped blocks concatenate for one vectorized unpack)
    expos  1 byte per exception: its index WITHIN its block (0..127)
    exhigh one LEB128 varint stream of every exception's high part
           (value >> b), in block order (codec.varint_decode reads it
           whole — the same vectorized decoder the varint format uses)

``b`` is chosen per block by exact byte cost (packed bytes + 1 byte per
exception position + the exceptions' actual varint high-part bytes),
evaluated for every candidate width as one (candidates x blocks) numpy
matrix — no per-block Python loop. Encode and decode group blocks by
(b, count) and bit-pack/unpack each group in one np.packbits /
np.unpackbits call, mirroring codec.py's "vectorize across the stream,
never per value" discipline.

Trade-off vs the serving codec (codec.py varint), measured in BENCH.md:
PFD wins at rest on the low-entropy streams (tfs, dls, dense doc gaps)
because 1-3 BIT values stop paying varint's 1-BYTE floor; varint stays
the serving default because its streams byte-splice in O(1) at LSM merge
boundaries (codec.splice_gap_streams) while a PFD run would re-encode its
boundary block, and because WAND block skipping slices varint streams at
any stored byte offset. Same reason Lucene ships both families (vints in
.doc positions, FOR/PFD in block postings).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .codec import varint_decode, varint_encode
from .packed import PACKED_SCHEMA, TF_FAMILY, _tf_segment
from .positions import POS_FAMILY, POS_SCHEMA, _abs_positions, encode_positions

PFD_BLOCK = 128
_MAX_B = 32  # packed-width cap; wider values ride the exception path

# the value-stream (blob) columns of each segment family, as the families
# declare them — what every transcode/size-accounting entrypoint reads
TF_STREAMS = TF_FAMILY.streams
POS_STREAMS = POS_FAMILY.streams


def stream_bytes(df, streams) -> int:
    """Total at-rest bytes of the given stream columns, one scan."""
    from pyspark.sql import functions as F
    total = None
    for c in streams:
        e = F.sum(F.length(c))
        total = e if total is None else total + e
    return int(df.agg(total.alias("b")).collect()[0]["b"] or 0)


def _bit_lengths(v: np.ndarray) -> np.ndarray:
    """bit_length per value (0 for 0), vectorized."""
    bl = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        bl[nz] += 1
        tmp = tmp >> np.uint64(1)
    return bl


def _pack_bits(vals: np.ndarray, b: int) -> np.ndarray:
    """Bit-pack rows of a (n_blocks, count) uint64 matrix at width b ->
    (n_blocks, ceil(count*b/8)) uint8. Values must be < 2**b."""
    nblk, cnt = vals.shape
    # big-endian byte view -> per-value bit rows -> keep the low b bits
    # (u32 container is enough: b <= _MAX_B == 32 and inputs are pre-masked)
    as_bytes = vals.astype(">u4").view(np.uint8).reshape(nblk, cnt, 4)
    bits = np.unpackbits(as_bytes, axis=2)[:, :, 32 - b:]
    flat = bits.reshape(nblk, cnt * b)
    pad = (-flat.shape[1]) % 8
    if pad:
        flat = np.concatenate(
            [flat, np.zeros((nblk, pad), dtype=np.uint8)], axis=1)
    return np.packbits(flat, axis=1)


def _unpack_bits(buf: np.ndarray, nblk: int, cnt: int, b: int) -> np.ndarray:
    """Inverse of _pack_bits: (n_blocks * blocklen) uint8 bytes ->
    (n_blocks, count) uint64."""
    blocklen = (cnt * b + 7) // 8
    bits = np.unpackbits(buf.reshape(nblk, blocklen), axis=1)[:, :cnt * b]
    full = np.zeros((nblk, cnt, 32), dtype=np.uint8)
    full[:, :, 32 - b:] = bits.reshape(nblk, cnt, b)
    return np.packbits(full, axis=2).view(">u4").reshape(nblk, cnt)\
        .astype(np.uint64)


def pfd_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array into one self-contained PFD stream."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    header = int(n).to_bytes(4, "little")
    if n == 0:
        return header
    nblk = (n + PFD_BLOCK - 1) // PFD_BLOCK
    padded = np.zeros(nblk * PFD_BLOCK, dtype=np.uint64)
    padded[:n] = v
    blocks = padded.reshape(nblk, PFD_BLOCK)
    counts = np.full(nblk, PFD_BLOCK, dtype=np.int64)
    counts[-1] = n - (nblk - 1) * PFD_BLOCK
    in_range = np.arange(PFD_BLOCK) < counts[:, None]  # mask out pad slots

    bl = _bit_lengths(blocks) * in_range
    # candidate widths: {0} u the distinct bit lengths present (capped).
    # Exact when every bit length is <= _MAX_B: between two present bit
    # lengths the exception set is constant while packed bytes grow with b,
    # so cost(b) is minimized at the interval's lower end — always 0 or a
    # present bl. A value wider than _MAX_B is an exception at every allowed
    # width, so the pick is then only the cheapest width <= _MAX_B (a wider
    # packing, which the format cannot store, might cost less).
    cand = np.unique(np.concatenate(
        [[0], np.minimum(np.unique(bl), _MAX_B)]))
    # exact per-(candidate, block) byte cost: packed bytes + 1 position
    # byte per exception + varint(high) bytes. Loop over the few candidate
    # widths with 2D (block x 128) ops instead of one 3D matrix — same
    # exact argmin, ~50x less allocation traffic (profiled).
    n_ex = np.empty((cand.size, nblk), dtype=np.int64)
    cost = np.empty((cand.size, nblk), dtype=np.int64)
    for ci, b in enumerate(cand):
        ex = bl > b
        n_ex[ci] = ex.sum(axis=1)
        high_bytes = np.where(ex, (bl - b + 6) // 7, 0).sum(axis=1)
        cost[ci] = (counts * int(b) + 7) // 8 + n_ex[ci] + high_bytes
    best_i = np.argmin(cost, axis=0)                          # per block
    best_b = cand[best_i].astype(np.uint8)

    meta = np.empty((nblk, 2), dtype=np.uint8)
    meta[:, 0] = best_b
    meta[:, 1] = n_ex[best_i, np.arange(nblk)].astype(np.uint8)

    # packed section: group equal-(b, count) blocks, one pack call each
    packed_parts: list[np.ndarray | None] = [None] * nblk
    for b in np.unique(best_b):
        for cnt in np.unique(counts[best_b == b]):
            sel = np.nonzero((best_b == b) & (counts == cnt))[0]
            if b == 0:
                chunk = np.empty((sel.size, 0), dtype=np.uint8)
            else:
                low = blocks[sel, :cnt] & np.uint64((1 << int(b)) - 1)
                chunk = _pack_bits(low, int(b))
            for j, i in enumerate(sel):
                packed_parts[i] = chunk[j]
    # exceptions, block order then position order (C-order nonzero)
    final_ex = bl > best_b[:, None]
    blk_idx, pos_idx = np.nonzero(final_ex)
    high = blocks[blk_idx, pos_idx] >> best_b[blk_idx].astype(np.uint64)
    return b"".join([
        header, meta.tobytes(),
        b"".join(p.tobytes() for p in packed_parts),
        pos_idx.astype(np.uint8).tobytes(),
        varint_encode(high),
    ])


def pfd_decode(buf: bytes) -> np.ndarray:
    """Decode a pfd_encode stream back to uint64."""
    n = int.from_bytes(buf[:4], "little")
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    nblk = (n + PFD_BLOCK - 1) // PFD_BLOCK
    meta = np.frombuffer(buf, dtype=np.uint8,
                         count=2 * nblk, offset=4).reshape(nblk, 2)
    bs = meta[:, 0].astype(np.int64)
    n_ex = meta[:, 1].astype(np.int64)
    counts = np.full(nblk, PFD_BLOCK, dtype=np.int64)
    counts[-1] = n - (nblk - 1) * PFD_BLOCK
    block_lens = (counts * bs + 7) // 8
    block_off = 4 + 2 * nblk + np.concatenate([[0], np.cumsum(block_lens)])
    packed_end = int(block_off[-1])
    raw = np.frombuffer(buf, dtype=np.uint8)

    out = np.zeros((nblk, PFD_BLOCK), dtype=np.uint64)
    for b in np.unique(bs):
        if b == 0:
            continue
        for cnt in np.unique(counts[bs == b]):
            sel = np.nonzero((bs == b) & (counts == cnt))[0]
            bl_len = (int(cnt) * int(b) + 7) // 8
            chunk = np.concatenate(
                [raw[block_off[i]:block_off[i] + bl_len] for i in sel])
            out[sel, :cnt] = _unpack_bits(chunk, sel.size, int(cnt), int(b))

    total_ex = int(n_ex.sum())
    if total_ex:
        pos = raw[packed_end:packed_end + total_ex].astype(np.int64)
        high = varint_decode(buf[packed_end + total_ex:])
        blk = np.repeat(np.arange(nblk), n_ex)
        out[blk, pos] |= high << bs[blk].astype(np.uint64)
    return out.reshape(-1)[:n]


# ---------------------------------------------------------------------------
# Spark surface: PFD-packed posting segments (round-trip / size-study twin of
# packed.build_packed_postings; serving keeps the varint format — see the
# module docstring for the splice/offset trade-off).

PFD_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("shard_id", T.IntegerType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("first_doc", T.LongType(), False),
    T.StructField("doc_gaps", T.BinaryType(), False),   # PFD streams
    T.StructField("tfs", T.BinaryType(), False),
    T.StructField("dls", T.BinaryType(), False),
])


def build_packed_postings_pfd(term_doc_tf: DataFrame,
                              shard_span: int = 1 << 20) -> DataFrame:
    """(term, doc_id, tf, dl) rows -> PFD-compressed per-(term, doc-shard)
    segments: same delta-gap preprocessing, sharding and sorted-run encode
    (`packed.encode_runs`) as `packed.build_packed_postings`, different
    at-rest bit format."""
    from pyspark.sql import functions as F

    from .packed import encode_runs

    def encode_run(docs, tfs, dls) -> dict:
        gaps = np.diff(docs, prepend=0)
        return {"df": int(docs.size), "first_doc": int(docs[0]),
                "doc_gaps": pfd_encode(gaps.astype(np.uint64)),
                "tfs": pfd_encode(tfs.astype(np.uint64)),
                "dls": pfd_encode(dls.astype(np.uint64))}

    with_shard = term_doc_tf.withColumn(
        "shard_id", (F.col("doc_id") / F.lit(shard_span)).cast("int"))
    return encode_runs(with_shard, ("doc_id", "tf", "dl"), encode_run,
                       PFD_SCHEMA)


# ---------------------------------------------------------------------------
# Cold tier: archive a SERVING (varint) packed index as PFD segments and
# restore it byte-identically. The archive drops the serving-only metadata
# (block-max norms, per-block byte offsets — both deterministic functions of
# the postings + enc_avgdl, recomputed on restore) and re-encodes the three
# value streams at PFD's ~0.5x footprint; restore runs codec.encode_postings
# with the STORED enc_avgdl, so the rehydrated segments are byte-identical
# to the originals (test-enforced) and every serving path (WAND block skips,
# splice merges, purge range gates) works unchanged on a restored index.

PFD_ARCHIVE_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("shard_id", T.IntegerType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("global_df", T.LongType(), False),
    T.StructField("first_doc", T.LongType(), False),
    T.StructField("enc_avgdl", T.DoubleType(), False),  # restore input
    T.StructField("doc_gaps", T.BinaryType(), False),   # PFD streams
    T.StructField("tfs", T.BinaryType(), False),
    T.StructField("dls", T.BinaryType(), False),
])


def _require_columns(df: DataFrame, required, forbidden, what: str) -> None:
    """Fail fast on tier/kind mix-ups. Both decoders happily chew arbitrary
    bytes (varint_decode never errors, pfd_decode misreads a header), so
    archiving an already-archived index — or restoring a hot one — would
    SILENTLY write corrupt output and the cold tier's whole point is that
    the hot copy may then be deleted. The hot schemas carry
    ``block_last_doc``; the archive schemas deliberately do not — that
    plus the kind-specific stream columns identifies the format."""
    cols = set(df.columns)
    missing = sorted(set(required) - cols)
    unexpected = sorted(set(forbidden) & cols)
    if missing or unexpected:
        raise ValueError(
            f"{what}: input columns do not match the expected tier/kind "
            f"(missing: {missing}, unexpected: {unexpected}; got: "
            f"{sorted(cols)}) — refusing to transcode, the output would be "
            "silently corrupt")


def _archive_streams(src: DataFrame, schema: T.StructType,
                     stream_cols: tuple[str, ...]) -> DataFrame:
    """Shared archive transcode: copy the schema's metadata columns, run
    each stream column through varint_decode -> pfd_encode. Narrow
    per-segment map — no shuffle, no re-sort (decoded streams re-encode
    as-is; order is already canonical)."""
    cols = [f.name for f in schema.fields]
    meta_cols = [c for c in cols if c not in stream_cols]

    def gen(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                row = {c: getattr(r, c) for c in meta_cols}
                for c in stream_cols:
                    row[c] = pfd_encode(varint_decode(bytes(getattr(r, c))))
                out.append(row)
            if out:
                yield pd.DataFrame(out, columns=cols)

    return src.mapInPandas(gen, schema)


def archive_packed(packed: DataFrame) -> DataFrame:
    """Serving (PACKED_SCHEMA, varint) segments -> PFD archive segments."""
    _require_columns(
        packed,
        required=[f.name for f in PFD_ARCHIVE_SCHEMA.fields]
        + ["block_last_doc"],
        forbidden=["pos_deltas"], what="archive_packed")
    return _archive_streams(packed, PFD_ARCHIVE_SCHEMA, TF_STREAMS)


def restore_packed(archived: DataFrame) -> DataFrame:
    """PFD archive segments -> serving (PACKED_SCHEMA) segments.

    For canonically-blocked segments (anything encode_postings produced:
    fresh builds, purge re-encodes) the restore is BYTE-IDENTICAL —
    encode_postings is deterministic in (doc_ids, tfs, dls, avgdl) and
    the archive kept enc_avgdl (tests/test_codec_pfd.py). Spliced
    segments (merge_packed / append boundary shards) carry their source
    runs' block boundaries, which the archive does not record; they
    restore to the canonical 128-block equivalent — same postings blobs,
    same scores, sound block-max bounds, just re-blocked skip metadata
    (logical identity + rank-identity test-enforced)."""
    _require_columns(
        archived,
        required=[f.name for f in PFD_ARCHIVE_SCHEMA.fields],
        forbidden=["block_last_doc", "pos_deltas"], what="restore_packed")
    cols = [f.name for f in PACKED_SCHEMA.fields]

    def gen(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                gaps = pfd_decode(bytes(r.doc_gaps)).astype(np.int64)
                row = _tf_segment(
                    np.cumsum(gaps),
                    pfd_decode(bytes(r.tfs)).astype(np.int64),
                    pfd_decode(bytes(r.dls)).astype(np.int64),
                    float(r.enc_avgdl))
                row.update(term=r.term, shard_id=int(r.shard_id),
                           global_df=int(r.global_df))
                out.append(row)
            if out:
                yield pd.DataFrame(out, columns=cols)

    return archived.mapInPandas(gen, PACKED_SCHEMA)


PFD_POS_ARCHIVE_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("shard_id", T.IntegerType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("n_pos", T.LongType(), False),
    T.StructField("first_doc", T.LongType(), False),
    T.StructField("doc_gaps", T.BinaryType(), False),    # PFD streams
    T.StructField("pos_counts", T.BinaryType(), False),
    T.StructField("pos_deltas", T.BinaryType(), False),
])


def archive_positions(packed_pos: DataFrame) -> DataFrame:
    """Positional (POS_SCHEMA, varint) segments -> PFD archive segments —
    the positional twin of `archive_packed`, and the tier where PFD pays
    most: the positional index is the largest structure at rest
    (O(token occurrences)) and its per-doc position deltas are 1-3-bit
    values that each cost varint a full byte."""
    _require_columns(
        packed_pos,
        required=[f.name for f in PFD_POS_ARCHIVE_SCHEMA.fields]
        + ["block_last_doc"],
        forbidden=["tfs"], what="archive_positions")
    return _archive_streams(packed_pos, PFD_POS_ARCHIVE_SCHEMA,
                            POS_STREAMS)


def restore_positions(archived: DataFrame) -> DataFrame:
    """PFD positional archive -> serving (POS_SCHEMA) segments, via
    `positions.encode_positions` — byte-identical for canonically-blocked
    segments, canonical re-block for spliced ones, exactly like
    `restore_packed` (no enc_avgdl needed: positional block metadata is a
    function of the occurrence rows alone)."""
    _require_columns(
        archived,
        required=[f.name for f in PFD_POS_ARCHIVE_SCHEMA.fields],
        forbidden=["block_last_doc", "tfs"], what="restore_positions")
    cols = [f.name for f in POS_SCHEMA.fields]

    def gen(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                gaps = pfd_decode(bytes(r.doc_gaps)).astype(np.int64)
                docs = np.cumsum(gaps)
                counts = pfd_decode(bytes(r.pos_counts)).astype(np.int64)
                deltas = pfd_decode(bytes(r.pos_deltas)).astype(np.int64)
                flat = _abs_positions(deltas, counts)
                row = {"term": r.term, "shard_id": int(r.shard_id)}
                row.update(encode_positions(np.repeat(docs, counts), flat))
                out.append(row)
            if out:
                yield pd.DataFrame(out, columns=cols)

    return archived.mapInPandas(gen, POS_SCHEMA)


def unpack_packed_pfd(packed: DataFrame) -> DataFrame:
    """Inverse of build_packed_postings_pfd (the round-trip gate)."""
    schema = "term string, doc_id long, tf long, dl long"

    def unpack(batches):
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                gaps = pfd_decode(bytes(r.doc_gaps)).astype(np.int64)
                outs.append(pd.DataFrame({
                    "term": r.term,
                    "doc_id": np.cumsum(gaps),
                    "tf": pfd_decode(bytes(r.tfs)).astype(np.int64),
                    "dl": pfd_decode(bytes(r.dls)).astype(np.int64),
                }))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return packed.mapInPandas(unpack, schema)
