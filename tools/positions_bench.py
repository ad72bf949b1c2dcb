"""Packed positional index: at-rest size + warm phrase/proximity latency.

Quantifies round 5's headline (VERDICT r4 #1): the positional row layout
(doc_id, term, pos parquet) vs the packed per-(term, doc-shard) varint
segments (`index/positions.py`) in bytes at rest, and the warm latency of
the packed phrase and proximity kernels, min-of-N per query per the
noisy-VM methodology. Rank identity against the pure-Python references is
pytest-enforced (tests/test_positions_packed.py); this tool is
size+latency only.

Usage: python tools/positions_bench.py [n_turns] [runs]
Spark runs at local[$SPARK_GRAFT_CPUS] (default 32). Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mini_distributed_search_engine_spark.functions.analyzer import (
    term_positions_pandas)
from mini_distributed_search_engine_spark.index.build import (
    build_index, with_stable_doc_ids)
from mini_distributed_search_engine_spark.index.packed import (
    build_packed_postings_local, merge_packed)
from mini_distributed_search_engine_spark.index.positions import (
    build_packed_positions)
from mini_distributed_search_engine_spark.query.bm25 import Query
from mini_distributed_search_engine_spark.query.phrase import (
    phrase_match_packed)
from mini_distributed_search_engine_spark.query.proximity import (
    wand_topk_proximity)
from mini_distributed_search_engine_spark.query.wand import (
    compute_shard_bounds)
from mini_distributed_search_engine_spark.session import get_spark
from mini_distributed_search_engine_spark.sources.transcripts import (
    TURNS_PER_CONV, synthesize_transcripts)

PHRASE_QUERIES = (
    Query("p1", "apple banana", k=100),
    Query("p2", "search engine", k=100),
    Query("p3", "spark shuffle partition", k=100),
    Query("p4", "index query", k=100),
)
PROX_QUERIES = (
    Query("x1", "apple banana"),
    Query("x2", "spark shuffle partition"),
    Query("x3", "search engine", k=50),
    Query("x4", "index query retrieval ranking"),
)


def _dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def main() -> None:
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("mdse-pos-bench", cores=cpus, shuffle_partitions=cpus)
    base = Path("/dev/shm/mdse_bench") if Path("/dev/shm").is_dir() \
        else Path(__file__).resolve().parent.parent / ".data"
    out = base / "pos_bench"
    shutil.rmtree(out, ignore_errors=True)

    docs = with_stable_doc_ids(synthesize_transcripts(
        spark, max(1, n_turns // TURNS_PER_CONV))).cache()
    docs.count()
    idx = build_index(docs)
    avgdl = float(idx.doc_stats.collect()[0]["avgdl"])
    span = max(4096, n_turns // (4 * cpus))
    tf_packed_df = merge_packed(
        build_packed_postings_local(idx.term_doc_tf, avgdl, shard_span=span),
        level_factor=4)
    tf_packed_df.write.mode("overwrite").parquet(str(out / "tf_packed"))
    tf_packed = (spark.read.parquet(str(out / "tf_packed"))
                 .repartition(cpus, "shard_id").cache())
    tf_packed.count()
    bounds = compute_shard_bounds(tf_packed)

    # at-rest size: row layout (in the fused pass's doc order, as the
    # pipeline writes it) vs packed segments
    pos = term_positions_pandas(docs, "text", stem=True)
    t0 = time.perf_counter()
    pos.write.mode("overwrite").parquet(str(out / "pos_rows"))
    rows_write_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    (build_packed_positions(pos, shard_bounds=bounds)
     .write.mode("overwrite").parquet(str(out / "pos_packed")))
    packed_write_sec = time.perf_counter() - t0
    rows_bytes = _dir_bytes(out / "pos_rows")
    packed_bytes = _dir_bytes(out / "pos_packed")

    n_occ = spark.read.parquet(str(out / "pos_rows")).count()
    pos_packed = (spark.read.parquet(str(out / "pos_packed"))
                  .repartition(cpus, "shard_id").cache())
    pos_packed.count()
    doc_stats = idx.doc_stats
    stats_row = doc_stats.collect()[0]
    corpus = (int(stats_row["n_docs"]), float(stats_row["avgdl"]))

    def min_of_runs(run, queries) -> dict:
        run(queries[:1])               # untimed warmup
        best = {}
        for q in queries:
            b = float("inf")
            for _ in range(runs):
                t = time.perf_counter()
                run((q,))
                b = min(b, time.perf_counter() - t)
            best[q.query_id] = round(b, 4)
        return best

    ph_packed = min_of_runs(lambda qs: phrase_match_packed(
        spark, pos_packed, qs).collect(), PHRASE_QUERIES)
    px_packed = min_of_runs(lambda qs: wand_topk_proximity(
        spark, tf_packed, pos_packed, doc_stats, queries=qs,
        corpus_stats=corpus).collect(), PROX_QUERIES)

    p50 = lambda d: sorted(d.values())[len(d) // 2]
    print(json.dumps({
        "turns": n_turns, "runs": runs, "cpus": cpus,
        "occurrences": n_occ,
        "rows_bytes": rows_bytes, "packed_bytes": packed_bytes,
        "compression_x": round(rows_bytes / packed_bytes, 2),
        "bytes_per_occurrence_packed": round(packed_bytes / n_occ, 3),
        "rows_write_sec": round(rows_write_sec, 3),
        "packed_write_sec": round(packed_write_sec, 3),
        "phrase_packed": ph_packed, "phrase_packed_p50": p50(ph_packed),
        "prox_packed": px_packed, "prox_packed_p50": p50(px_packed),
    }))
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
