"""Block-max WAND microbench: rare-driver + stop-word-hot-terms query over
a synthetic corpus with REALISTIC spread (log-normal doc lengths, Zipf term
frequencies) — the distribution family where bound-based pruning has
traction. The sf-scale transcript synthesizer produces near-constant doc
lengths, which makes every BM25 norm almost equal and renders ANY
bound-based pruning inert by construction (theta minus the hot terms'
upper-bound slack still covers every candidate); this bench isolates the
operator's behavior from that corpus artifact.

Compares the SAME _shard_topk on identical segment bytes:
  lazy  = per-block byte offsets (selective bulk block decode)
  eager = every segment fully decoded at construction (the pre-block-max
          decode cost; same stored bounds)
Asserts rank-identity, reports wall time and decode counts. Pure
numpy/pandas — no SparkSession.

Usage: python tools/blockmax_microbench.py [--n 2000000] [--reps 5]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mini_distributed_search_engine_spark.index.codec import encode_postings
from mini_distributed_search_engine_spark.query import wand as W


def make_segments(n_docs: int, rng) -> pd.DataFrame:
    dls = np.clip(rng.lognormal(3.5, 0.9, n_docs), 8, 4000).astype(np.int64)
    avgdl = float(dls.mean())

    def seg(term, df, tf_max):
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = rng.zipf(1.6, size=df).clip(1, tf_max).astype(np.int64)
        enc = encode_postings(docs, tfs, dls[docs], avgdl)
        row = {"term": term, "shard_id": 0, "global_df": df,
               "last_doc": enc["block_last_doc"][-1]}
        row.update({k: enc[k] for k in (
            "df", "first_doc", "doc_gaps", "tfs", "dls", "block_last_doc",
            "block_max_tf_norm", "max_tf_norm", "block_gap_ends",
            "block_tf_ends", "block_dl_ends", "enc_avgdl")})
        return row

    rows = [seg("rare", n_docs // 33, 4),
            seg("hot1", int(n_docs * 0.96), 20),
            seg("hot2", int(n_docs * 0.95), 20),
            seg("hot3", int(n_docs * 0.94), 20)]
    return pd.DataFrame(rows), avgdl


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2_000_000)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    rng = np.random.default_rng(5)
    pdf, avgdl = make_segments(args.n, rng)
    meta = [("q", ["rare", "hot1", "hot2", "hot3"], 10)]

    orig_full = W._Seg.full
    calls = {"n": 0}

    def counting_full(self):
        if self._full is None:
            calls["n"] += 1
        return orig_full(self)

    W._Seg.full = counting_full
    fn = W._shard_topk(meta, args.n, avgdl, 6)
    fn(pdf)
    W._Seg.full = orig_full
    decodes = calls["n"]

    fn = W._shard_topk(meta, args.n, avgdl, 6)
    fn(pdf)
    t0 = time.perf_counter()
    for _ in range(args.reps):
        fn(pdf)
    lazy = (time.perf_counter() - t0) / args.reps

    orig_init = W._Seg.__init__

    def eager_init(self, r, n_docs, avgdl):
        orig_init(self, r, n_docs, avgdl)
        self.full()

    W._Seg.__init__ = eager_init
    try:
        fn2 = W._shard_topk(meta, args.n, avgdl, 6)
        b = fn2(pdf)
        t0 = time.perf_counter()
        for _ in range(args.reps):
            fn2(pdf)
        eager = (time.perf_counter() - t0) / args.reps
    finally:
        W._Seg.__init__ = orig_init

    a = fn(pdf)
    same = (sorted(map(tuple, a.itertuples(index=False)))
            == sorted(map(tuple, b.itertuples(index=False))))
    assert same, "block-max path is not rank-identical to eager decode"
    print(json.dumps({
        "metric": "blockmax_shard_topk_query_sec",
        "n_docs": args.n,
        "segments_full_decoded_lazy": decodes,
        "segments_total": len(pdf),
        "lazy_sec": round(lazy, 4),
        "eager_sec": round(eager, 4),
        "speedup": round(eager / lazy, 2),
        "rank_identical": same,
    }))


if __name__ == "__main__":
    main()
