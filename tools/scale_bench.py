"""Scale-up evidence run: the FULL staged pipeline (docs -> fused TF ->
stats -> partition-local pack -> merge) over millions of turns, then the
query set against the built root (block-max WAND with lazy block decode;
`tools/blockmax_microbench.py` holds the lazy-vs-eager decode A/B), the
delete lifecycle and the cold-tier archive. Prints one JSON line.

Usage: python tools/scale_bench.py [--turns 2000000] [--cpus 32]
       [--root /dev/shm/mdse_scale] [--span 1048576]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from mini_distributed_search_engine_spark.plans.pipeline import StagedIndexBuild
from mini_distributed_search_engine_spark.query.bm25 import Query
from mini_distributed_search_engine_spark.query.wand import wand_topk
from mini_distributed_search_engine_spark.session import get_spark
from mini_distributed_search_engine_spark.sources.transcripts import (
    TURNS_PER_CONV, synthesize_transcripts)

QUERIES = (
    Query("q01", "apple banana"),
    Query("q03", "spark shuffle partition"),
    Query("q06", "relational conditional adjustment"),
    Query("q07", "search engine", k=500),
    Query("q10", "index query retrieval ranking"),
    # asymmetric rare+hot queries: a high-idf term fills theta with k docs,
    # then the hot terms' upper bounds fall below it -> the lazy path never
    # decodes their (huge) posting lists
    Query("q11", "gyroscopic the you are"),
    Query("q12", "relational apple the you"),
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=2_000_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--root", default="/dev/shm/mdse_scale")
    ap.add_argument("--span", type=int, default=1 << 20)
    args = ap.parse_args()

    spark = get_spark("mdse-scale", cores=args.cpus,
                      shuffle_partitions=args.cpus)
    root = Path(args.root)
    shutil.rmtree(root, ignore_errors=True)

    n_convs = args.turns // TURNS_PER_CONV
    t0 = time.perf_counter()
    tr = synthesize_transcripts(spark, n_convs)
    pipe = StagedIndexBuild(spark, str(root), run_id="scale")
    status = pipe.run(tr, shard_span=args.span, merge_factor=4)
    build_sec = time.perf_counter() - t0
    n_turns = n_convs * TURNS_PER_CONV

    stage_ms = {r["stage"]: r["wall_ms"]
                for r in (pipe.lineage().groupBy("stage")
                          .agg(F.max("wall_ms").alias("wall_ms")).collect())}

    doc_stats = spark.read.parquet(str(root / "stats" / "doc_stats"))
    stats_row = doc_stats.collect()[0]
    corpus = (int(stats_row["n_docs"]), float(stats_row["avgdl"]))

    merged = spark.read.parquet(str(root / "merged" / "data"))

    def run_set(packed, reps: int = 3) -> dict[str, float]:
        # min over reps: the sandbox shares a host; min isolates the
        # compute cost from scheduler/host noise
        out = {}
        for q in QUERIES:
            best = None
            for _ in range(reps):
                t = time.perf_counter()
                wand_topk(spark, packed, doc_stats, queries=(q,),
                          corpus_stats=corpus).collect()
                dt = time.perf_counter() - t
                best = dt if best is None else min(best, dt)
            out[q.query_id] = round(best, 4)
        return out

    full = merged.repartition(args.cpus, "shard_id").cache()
    full.count()
    run_set(full, reps=1)  # warm code paths
    lat_block = run_set(full)
    t = time.perf_counter()
    wand_topk(spark, full, doc_stats, queries=QUERIES,
              corpus_stats=corpus).collect()
    batch_sec = round(time.perf_counter() - t, 4)
    full.unpersist()

    # ---- delete lifecycle at scale (VERDICT r4 #7): tombstone 1% of the
    # docs, fold them in with purge_docs, re-query the purged index.
    # Two tombstone shapes: CLUSTERED (one contiguous 1% doc range — the
    # realistic LSM shape: a retention window or a dropped conversation
    # batch) exercises the two-binary-search segment gate (untouched
    # segments pass through byte-identical, so purge cost ~ affected
    # segments); SCATTERED (every 100th doc) is the adversarial shape
    # where every segment's range intersects and the gate cannot help —
    # the gap between the two IS the gate's value.
    import numpy as np

    from mini_distributed_search_engine_spark.index.packed import (
        purge_counting, with_global_df)

    n_docs = corpus[0]
    ranges = [(int(r["first_doc"]), int(r["last_doc"]))
              for r in merged.select("first_doc", "last_doc").collect()]

    def touched(tomb: np.ndarray) -> int:
        return sum(1 for lo, hi in ranges
                   if np.searchsorted(tomb, lo) < np.searchsorted(
                       tomb, hi, side="right"))

    purge = {}
    for shape, tomb in (
            ("clustered", np.arange(0, n_docs // 100, dtype=np.int64)),
            ("scattered", np.arange(0, n_docs, 100, dtype=np.int64))):
        # one decode pass counts the deleted docs (the stats delta) and
        # re-encodes the survivors; the write then reads its cached output
        t = time.perf_counter()
        out_dir = root / f"purged_{shape}"
        with purge_counting(merged, tomb) as (kept, d_n, d_dl):
            stats_sec = time.perf_counter() - t
            t = time.perf_counter()
            with_global_df(kept).write.mode("overwrite").parquet(
                str(out_dir / "data"))
            purge_sec = time.perf_counter() - t
        purged = (spark.read.parquet(str(out_dir / "data"))
                  .repartition(args.cpus, "shard_id").cache())
        purged.count()
        t = time.perf_counter()
        wand_topk(spark, purged, doc_stats, queries=QUERIES,
                  corpus_stats=(n_docs - d_n,
                                (corpus[0] * corpus[1] - d_dl)
                                / max(1, n_docs - d_n))).collect()
        requery_sec = time.perf_counter() - t
        purged.unpersist()
        purge[shape] = {
            "tombstones": int(tomb.size),
            "segments_touched": touched(tomb),
            "segments_total": len(ranges),
            "stats_delta_sec": round(stats_sec, 3),
            "purge_write_sec": round(purge_sec, 3),
            "requery_batch_sec": round(requery_sec, 3),
        }

    # ---- cold-tier archive at scale: PFD-transcode the merged index,
    # report wall + at-rest ratio (archive is a narrow per-segment map,
    # so its throughput should track the pack stage, not the queries)
    from mini_distributed_search_engine_spark.index.codec_pfd import (
        TF_STREAMS, archive_packed, stream_bytes)

    t = time.perf_counter()
    archive_packed(merged).write.mode("overwrite").parquet(
        str(root / "cold"))
    archive_sec = time.perf_counter() - t
    cold_b = stream_bytes(spark.read.parquet(str(root / "cold")), TF_STREAMS)
    hot_b = stream_bytes(merged, TF_STREAMS)

    med = lambda d: sorted(d.values())[len(d) // 2]
    print(json.dumps({
        "metric": "staged_pipeline_scale_run",
        "turns": n_turns,
        "build_sec": round(build_sec, 2),
        "turns_per_sec": round(n_turns / build_sec, 1),
        "stages": status,
        "stage_wall_ms": stage_ms,
        "shard_span": args.span,
        "queries_blockmax": lat_block,
        "p50_blockmax": med(lat_block),
        "batch_sec": batch_sec,
        "batch_per_query_sec": round(batch_sec / len(QUERIES), 4),
        "purge": purge,
        "archive_sec": round(archive_sec, 3),
        "archive_bytes_hot": hot_b,
        "archive_bytes_cold": cold_b,
        "archive_ratio": round(cold_b / hot_b, 3) if hot_b else None,
        "cpus": args.cpus,
    }))


if __name__ == "__main__":
    main()
