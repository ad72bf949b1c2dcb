"""spark-submit entrypoint: build (or resume) the packed inverted index.

Usage:
  spark-submit --py-files mdse.zip jobs/build_index_job.py \\
      --out /data/index_root \\
      [--documents /root/testdata/sf0.01 | --synthesize-turns 100000] \\
      [--shard-span 1048576] [--merge-factor 8] [--run-id RID]

Package the engine with:  (cd /root/repo && zip -r mdse.zip mini_distributed_search_engine_spark)
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mini_distributed_search_engine_spark.plans.pipeline import StagedIndexBuild
from mini_distributed_search_engine_spark.session import get_spark
from mini_distributed_search_engine_spark.sources.transcripts import (
    TURNS_PER_CONV, synthesize_transcripts, transcripts_from_documents)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--documents", help="sf dir with documents.parquet")
    ap.add_argument("--jsonl", help="JSONL transcript drop (glob ok); "
                                    "malformed lines go to OUT/quarantine")
    ap.add_argument("--synthesize-turns", type=int, default=0)
    ap.add_argument("--shard-span", type=int, default=1 << 20)
    ap.add_argument("--merge-factor", type=int, default=8)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--positions", action="store_true",
                    help="also build the positional index stage (phrase search)")
    args = ap.parse_args()

    spark = get_spark("mdse-build")
    if args.documents:
        tr = transcripts_from_documents(spark, args.documents)
    elif args.jsonl:
        from mini_distributed_search_engine_spark.sources.jsonl import (
            transcripts_from_jsonl)
        tr, quarantine = transcripts_from_jsonl(spark, args.jsonl)
        quarantine.write.mode("overwrite").parquet(f"{args.out}/quarantine")
        n_bad = spark.read.parquet(f"{args.out}/quarantine").count()
        print(f"quarantined: {n_bad} lines -> {args.out}/quarantine")
    elif args.synthesize_turns:
        tr = synthesize_transcripts(spark, args.synthesize_turns // TURNS_PER_CONV)
    else:
        ap.error("need --documents, --jsonl, or --synthesize-turns")
    pipe = StagedIndexBuild(spark, args.out, run_id=args.run_id)
    status = pipe.run(tr, shard_span=args.shard_span,
                      merge_factor=args.merge_factor,
                      positions=args.positions)
    for stage, st in status.items():
        print(f"{stage}: {st}")


if __name__ == "__main__":
    main()
