"""spark-submit entrypoint: BM25 top-k queries against a built index root.

Usage:
  spark-submit --py-files mdse.zip jobs/query_job.py \\
      --index /data/index_root --query "spark shuffle" [--k 10] \\
      [--mode or|and|phrase]

Ranked modes serve from the packed index (`merged` stage) through
`wand_topk`; phrase mode from the packed positions (`positions_packed`
stage, built with `StagedIndexBuild.run(positions=True)`).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mini_distributed_search_engine_spark.query.bm25 import Query
from mini_distributed_search_engine_spark.query.phrase import (
    phrase_match_packed)
from mini_distributed_search_engine_spark.query.wand import wand_topk
from mini_distributed_search_engine_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", required=True, action="append")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--mode", choices=["or", "and", "phrase"], default="or",
                    help="or = BM25 union, and = conjunctive intersection, "
                         "phrase = exact phrase over the packed positions")
    args = ap.parse_args()

    spark = get_spark("mdse-query")
    queries = tuple(Query(f"q{i:02d}", q, k=args.k)
                    for i, q in enumerate(args.query, 1))
    if args.mode == "phrase":
        pos = spark.read.parquet(f"{args.index}/positions_packed/data")
        out = phrase_match_packed(spark, pos, queries)
        for r in out.orderBy("query_id", "rank").collect():
            print(f"{r['query_id']}\trank={r['rank']}\tdoc={r['doc_id']}\tn_occ={r['n_occ']}")
        return
    doc_stats = spark.read.parquet(f"{args.index}/stats/doc_stats")
    packed = spark.read.parquet(f"{args.index}/merged/data")
    out = wand_topk(spark, packed, doc_stats, queries=queries,
                    conjunctive=args.mode == "and")
    for r in out.orderBy("query_id", "rank").collect():
        print(f"{r['query_id']}\trank={r['rank']}\tdoc={r['doc_id']}\tscore={r['score']}")


if __name__ == "__main__":
    main()
