"""Block-level selective decode: per-block byte offsets must reconstruct
exactly what a full decode produces, including across splices (merged runs
whose first varint was rewritten), and the lazy _Seg lookup/bound paths must
agree with the eager full-decode paths."""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np

from mini_distributed_search_engine_spark.index.codec import (
    BLOCK, block_ends_array, encode_postings, tf_norm, varint_decode)
from mini_distributed_search_engine_spark.query.wand import _Seg


def _decode_block(enc: dict, b: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    ge = block_ends_array(enc["block_gap_ends"])
    te = block_ends_array(enc["block_tf_ends"])
    de = block_ends_array(enc["block_dl_ends"])
    g0 = ge[b - 1] if b else 0
    docs = np.cumsum(varint_decode(enc["doc_gaps"][g0:ge[b]]).astype(np.int64))
    if b:
        docs += int(enc["block_last_doc"][b - 1])
    t0 = te[b - 1] if b else 0
    tfs = varint_decode(enc["tfs"][t0:te[b]]).astype(np.int64)
    d0 = de[b - 1] if b else 0
    dls = varint_decode(enc["dls"][d0:de[b]]).astype(np.int64)
    return docs, tfs, dls


def test_block_slices_reassemble_full_stream():
    rng = np.random.default_rng(23)
    n = 1000
    doc_ids = np.sort(rng.choice(10**7, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, size=n).astype(np.int64)
    dls = rng.integers(1, 200, size=n).astype(np.int64)
    enc = encode_postings(doc_ids, tfs, dls, avgdl=37.5)
    n_blocks = (n + BLOCK - 1) // BLOCK
    assert len(block_ends_array(enc["block_gap_ends"])) == n_blocks
    assert block_ends_array(enc["block_gap_ends"])[-1] == len(enc["doc_gaps"])
    assert block_ends_array(enc["block_tf_ends"])[-1] == len(enc["tfs"])
    got_d, got_t, got_l = [], [], []
    for b in range(n_blocks):
        d, t, l = _decode_block(enc, b)
        got_d.append(d); got_t.append(t); got_l.append(l)
    assert np.array_equal(np.concatenate(got_d), doc_ids)
    assert np.array_equal(np.concatenate(got_t), tfs)
    assert np.array_equal(np.concatenate(got_l), dls)


def _row_from_enc(enc: dict, global_df: int = 100) -> SimpleNamespace:
    return SimpleNamespace(
        global_df=global_df, df=enc["df"], first_doc=enc["first_doc"],
        last_doc=enc["block_last_doc"][-1], doc_gaps=enc["doc_gaps"],
        tfs=enc["tfs"], dls=enc["dls"], block_last_doc=enc["block_last_doc"],
        block_max_tf_norm=enc["block_max_tf_norm"],
        max_tf_norm=enc["max_tf_norm"], block_gap_ends=enc["block_gap_ends"],
        block_tf_ends=enc["block_tf_ends"], block_dl_ends=enc["block_dl_ends"],
        enc_avgdl=enc["enc_avgdl"])


def test_seg_lookup_matches_full_decode():
    rng = np.random.default_rng(31)
    n = 60_000
    doc_ids = np.sort(rng.choice(5_000_000, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 9, size=n).astype(np.int64)
    dls = rng.integers(5, 400, size=n).astype(np.int64)
    enc = encode_postings(enc_docs := doc_ids, tfs, dls, avgdl=44.0)
    # sparse probes: a few present docs plus absent/out-of-range ones — far
    # fewer blocks touched than the segment holds
    probes = np.unique(np.concatenate([
        enc_docs[::4999], rng.integers(0, 6_000_000, size=10)])).astype(np.int64)

    lazy = _Seg(_row_from_enc(enc), n_docs=10_000, avgdl=44.0)
    got = lazy.lookup(probes)
    assert lazy._full is None  # few probes: stayed on the block path

    full = tf_norm(tfs, dls, 44.0)
    want = np.zeros(probes.size)
    pos = {int(d): i for i, d in enumerate(doc_ids)}
    for i, p in enumerate(probes):
        if int(p) in pos:
            want[i] = full[pos[int(p)]]
    assert np.allclose(got, want)
    # bounds dominate the true norms at every probed doc
    ub = lazy.block_ub_at(probes)
    assert np.all(ub + 1e-12 >= want)


def test_seg_bounds_sound_under_avgdl_drift():
    """Query-time avgdl larger than encode-time avgdl inflates true norms;
    the rescaled stored bounds must still dominate them."""
    rng = np.random.default_rng(37)
    n = 300
    doc_ids = np.sort(rng.choice(5_000, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 6, size=n).astype(np.int64)
    dls = rng.integers(2, 300, size=n).astype(np.int64)
    enc = encode_postings(doc_ids, tfs, dls, avgdl=20.0)
    for now in (5.0, 20.0, 80.0):  # shrink, equal, grow
        seg = _Seg(_row_from_enc(enc), n_docs=10_000, avgdl=now)
        true = tf_norm(tfs, dls, now)
        assert seg.ub_norm + 1e-12 >= float(true.max())
        ub = seg.block_ub_at(doc_ids)
        assert np.all(ub + 1e-12 >= true)
