"""The sorted-run segment encoder (`packed.encode_runs`) behind the TF,
positional and PFD builders: with Arrow batches of 7 rows, a hot term's
run spans many batches and must be carried across their boundaries, and
few enough (term, shard) groups leave shuffle partitions empty. Every
family must still match, row for row, a driver-side reference that calls
its encoder once per (term, shard) group."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mini_distributed_search_engine_spark.index.codec import encode_postings
from mini_distributed_search_engine_spark.index.codec_pfd import (
    build_packed_postings_pfd, pfd_encode)
from mini_distributed_search_engine_spark.index.packed import (
    _ENC_KEYS, build_packed_postings)
from mini_distributed_search_engine_spark.index.positions import (
    build_packed_positions, encode_positions)

BATCH = 7
AVGDL = 5.0


@pytest.fixture(scope="module")
def small_batches(spark):
    """7-row Arrow batches and 8 un-coalesced shuffle partitions for the
    module, prior settings restored afterwards."""
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": str(BATCH),
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    prior = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield
    for k, v in prior.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.fixture(scope="module")
def rows():
    """(doc_id, term, pos) occurrences of 60 docs in scrambled order: "hot"
    in every doc (2-3 times), "warm" in every 4th, "rare" in two docs;
    plus the (term, doc_id, tf, dl) table derived from them."""
    rng = np.random.default_rng(7)
    occ = []
    for d in range(60):
        terms = ["hot"] * int(rng.integers(2, 4))
        terms += ["warm"] * (d % 4 == 0) + ["rare"] * (d in (5, 41))
        terms += [f"w{int(x)}" for x in rng.integers(0, 3, 2)]
        rng.shuffle(terms)
        occ += [(d, t, p) for p, t in enumerate(terms)]
    pos = pd.DataFrame(occ, columns=["doc_id", "term", "pos"])
    pos = pos.iloc[rng.permutation(len(pos))].reset_index(drop=True)
    tf = pos.groupby(["term", "doc_id"]).size().rename("tf").reset_index()
    tf["dl"] = tf["doc_id"].map(pos.groupby("doc_id").size())
    tf = tf.iloc[rng.permutation(len(tf))].reset_index(drop=True)
    return pos, tf


def _groups(pdf: pd.DataFrame, shard_span: int, by: list[str]):
    pdf = pdf.assign(shard_id=pdf["doc_id"] // shard_span)
    for (term, shard), g in pdf.groupby(["term", "shard_id"]):
        yield term, int(shard), g.sort_values(by)


def _norm(rows) -> dict:
    """(term, shard_id) -> every other column, bytes/lists made hashable."""
    def cell(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        return tuple(v) if isinstance(v, list) else v
    return {(r["term"], int(r["shard_id"])):
            tuple(sorted((c, cell(v)) for c, v in r.items()
                         if c not in ("term", "shard_id")))
            for r in rows}


def _tf_reference(tf: pd.DataFrame, shard_span: int) -> dict:
    gdf = tf.groupby("term").size()
    out = []
    for term, shard, g in _groups(tf, shard_span, ["doc_id"]):
        enc = encode_postings(g["doc_id"].to_numpy(), g["tf"].to_numpy(),
                              g["dl"].to_numpy(), AVGDL)
        row = {k: enc[k] for k in _ENC_KEYS}
        row.update(term=term, shard_id=shard, global_df=int(gdf[term]),
                   last_doc=int(enc["block_last_doc"][-1]))
        out.append(row)
    return _norm(out)


def _pos_reference(pos: pd.DataFrame, shard_span: int) -> dict:
    out = []
    for term, shard, g in _groups(pos, shard_span, ["doc_id", "pos"]):
        row = encode_positions(g["doc_id"].to_numpy(), g["pos"].to_numpy())
        row.update(term=term, shard_id=shard)
        out.append(row)
    return _norm(out)


def _pfd_reference(tf: pd.DataFrame, shard_span: int) -> dict:
    out = []
    for term, shard, g in _groups(tf, shard_span, ["doc_id"]):
        docs = g["doc_id"].to_numpy()
        out.append({"term": term, "shard_id": shard, "df": int(docs.size),
                    "first_doc": int(docs[0]),
                    "doc_gaps": pfd_encode(np.diff(docs, prepend=0)
                                           .astype(np.uint64)),
                    "tfs": pfd_encode(g["tf"].to_numpy().astype(np.uint64)),
                    "dls": pfd_encode(g["dl"].to_numpy().astype(np.uint64))})
    return _norm(out)


def test_small_batches_in_effect(spark, small_batches, rows):
    """Guard for the tests below: the 7-row batch setting reaches the
    Python workers, so the hot run really is cut by batch boundaries."""
    _, tf = rows
    sizes = (spark.createDataFrame(tf)
             .mapInPandas(lambda it: (pd.DataFrame({"n": [len(b)]})
                                      for b in it), "n long")
             .collect())
    assert max(r["n"] for r in sizes) <= BATCH
    assert (tf["term"] == "hot").sum() > 5 * BATCH


# 16: the hot run splits into 4 shards of ~3 batches each;
# 1000: 6 groups in 8 partitions, so at least 2 partitions are empty
@pytest.mark.parametrize("shard_span", [16, 1000])
def test_tf_segments_match_reference(spark, small_batches, rows, shard_span):
    _, tf = rows
    got = build_packed_postings(spark.createDataFrame(tf), AVGDL,
                                shard_span=shard_span)
    assert _norm(r.asDict() for r in got.collect()) == \
        _tf_reference(tf, shard_span)


@pytest.mark.parametrize("shard_span", [16, 1000])
def test_positional_segments_match_reference(spark, small_batches, rows,
                                             shard_span):
    pos, _ = rows
    got = build_packed_positions(spark.createDataFrame(pos),
                                 shard_span=shard_span)
    assert _norm(r.asDict() for r in got.collect()) == \
        _pos_reference(pos, shard_span)


@pytest.mark.parametrize("shard_span", [16, 1000])
def test_pfd_segments_match_reference(spark, small_batches, rows, shard_span):
    _, tf = rows
    got = build_packed_postings_pfd(spark.createDataFrame(tf),
                                    shard_span=shard_span)
    assert _norm(r.asDict() for r in got.collect()) == \
        _pfd_reference(tf, shard_span)
