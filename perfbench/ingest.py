"""Workload ``ingest``: a streaming append with reads beside it.

A fresh ``StreamingIndexer(with_positions=True)`` root is fed the seeded
corpus as one micro-batch (a parquet file passed to ``process_batch`` with
batch id 0, as ``foreachBatch`` would). A fixed seeded query set then runs
``READS_AFTER_APPEND`` times through ``wand_topk(indexer.packed(), ...,
final_rank="driver")``; ``compact(tombstones=...)`` folds deletes in and
the set runs once more.

The work of a run is fixed (one append, six reads, one compaction), not
sized by ``--seconds``: if a faster program fitted a second, warm cycle
into the time budget, that would change what the metrics average over.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import numpy as np

from mini_distributed_search_engine_spark.query.wand import wand_topk
from mini_distributed_search_engine_spark.streaming.indexing import StreamingIndexer

from . import inputs, measure, trace
from .common import Context, Outcome
from .oracle_check import Oracle, compare

N_CONVS = 400               # one micro-batch of 1600 turns
SHARD_SPAN = 512            # below the batch size, so the append writes several shards
N_QUERIES = 32              # the fixed read set; enough that one hard query does not set its cost
READS_AFTER_APPEND = 5      # the first also starts the kernel's Python path
DELETES_PER_COMPACT = 60    # above N_QUERIES: each query's top document is among them
INDEX_DIRS = ("segs_g", "pos_g", "totals_g")
# per-layer metrics this workload measures (BENCHMARK.json names)
LAYERS = (("analyzer.python_s", "analyzer.rows_out", "packed.bytes",
           "positions.bytes", "packed.segments")
          + trace.REQUEST_LAYERS
          + ("wand.cand_per_result", "stream.read_p50_s", "stream.append_s",
             "stream.append_bytes", "stream.manifest_entries", "stream.compact_s",
             "stream.compact_bytes", "stream.write_amp"))


def _index_dirs(root: Path) -> set[str]:
    return {p.name for p in root.iterdir()
            if p.is_dir() and p.name.startswith(INDEX_DIRS)}


def _new_bytes(root: Path, before: set[str]) -> int:
    return sum(measure.dir_bytes(root / d) for d in _index_dirs(root) - before)


def run(ctx: Context) -> Outcome:
    out = Outcome()
    spark, tracer = ctx.spark, ctx.tracer
    rng = np.random.default_rng(ctx.seed)
    pdf = inputs.corpus(ctx.seed, N_CONVS)
    gen = inputs.QueryGen(rng, inputs.vocab_by_rank(pdf), pdf["text"].tolist())
    queries = inputs.batch_queries(gen, N_QUERIES, "r")
    delete_order = rng.permutation(len(pdf)).tolist()
    batch_file = str(ctx.work / "batch_0000.parquet")
    inputs.write_parquet(pdf, batch_file)

    root = ctx.work / "stream"
    indexer = StreamingIndexer(spark, str(root), shard_span=SHARD_SPAN,
                               with_positions=True)
    for name, span in (("process_batch", "stream.process_batch"),
                       ("compact", "stream.compact")):
        tracer.wrap(indexer, name, span)

    def manifest_len() -> int:
        return len(json.loads((root / "_meta.json").read_text())["manifest"])

    def read() -> tuple[list, float, int]:
        entries = manifest_len()
        t = time.perf_counter()
        with tracer.span("query.wand_topk") as s:
            rows = wand_topk(spark, indexer.packed(), indexer.doc_stats_df(),
                             queries=queries, corpus_stats=indexer.corpus_stats(),
                             final_rank="driver").collect()
            if s is not None:
                s.attrs["results"] = len(rows)
        return rows, time.perf_counter() - t, entries

    setup_s = time.perf_counter() - ctx.t0
    timed_from = time.time()

    # -- timed: append, reads, compaction with deletes, read --------------------
    # The append also starts the Python workers and warms the JVM; a
    # warm-up append would cost as much again, which a run cannot afford.
    checks = []           # (label, rows, purged) for the oracle
    read_walls, entries_seen = [], []

    def timed_read(label: str, purged: set[int]) -> list:
        out.attempted += 1
        rows, wall, entries = read()
        read_walls.append(wall)
        entries_seen.append(entries)
        checks.append((label, rows, purged))
        return rows

    before = _index_dirs(root)
    out.attempted += 1
    t = time.perf_counter()
    indexer.process_batch(spark.read.parquet(batch_file), 0)
    append_wall = time.perf_counter() - t
    append_bytes = _new_bytes(root, before)
    rows = timed_read("read 1 after the append", set())
    for i in range(2, READS_AFTER_APPEND + 1):
        timed_read(f"read {i} after the append", set())

    # the deletes include each query's top document, so a compaction that
    # kept a deleted doc changes the last read
    tops = sorted({r["doc_id"] for r in rows if r["rank"] == 1})
    rest = [d for d in delete_order if d not in tops][:DELETES_PER_COMPACT - len(tops)]
    purged = set(tops + rest)
    before = _index_dirs(root)
    out.attempted += 1
    t = time.perf_counter()
    indexer.compact(tombstones=sorted(purged))
    compact_wall = time.perf_counter() - t
    compact_bytes = _new_bytes(root, before)
    timed_read(f"read after compacting {len(purged)} deletes", purged)

    # -- correctness --------------------------------------------------------------
    ctx.rss.stop()
    t_check = time.perf_counter()
    orc = Oracle(pdf)
    unpurged = orc.topk(queries)
    if not purged & {d for w in unpurged.values() for _, d, _ in w}:
        out.mismatches.append(f"the oracle's top-k before compaction holds none of the "
                              f"{len(purged)} deleted docs, so the check after it "
                              "cannot see them")
    for label, rows, gone in checks:
        want = orc.topk(queries, purged=gone) if gone else unpurged
        got: dict[str, list] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
        for q in queries:
            out.checked += 1
            m = compare(f"{label}: {q.text!r}",
                        sorted(got.get(q.query_id, [])), want[q.query_id])
            if m:
                out.mismatches.append(m)

    # -- metrics ------------------------------------------------------------------
    n_turns = len(pdf)
    warm_walls = read_walls[1:READS_AFTER_APPEND]
    live = [d for d in range(n_turns) if d not in purged]
    text_bytes = inputs.text_bytes(pdf.iloc[live])
    index_bytes = sum(measure.dir_bytes(root / d) for d in _index_dirs(root))
    out.e2e = {
        "setup_s": setup_s,
        "index_turns_per_s": n_turns / append_wall,
        "index_bytes_per_text_byte": index_bytes / text_bytes,
        # the first read of a run also starts the kernel's Python path, and
        # the last reads the compacted index: the rate is over the reads
        # between them
        "batch_queries_per_s": len(queries) / measure.median(warm_walls),
    }
    out.line(f"corpus: {n_turns} turns in one micro-batch")
    out.line(f"ingest_turns_per_s: {out.e2e['index_turns_per_s']:.1f} 1/s "
             f"(n=1 append, {n_turns} turns)")
    out.line(f"search_p50_s: {measure.median(warm_walls):.4f} s (n={len(warm_walls)} warm "
             f"reads after the append; all reads of {len(queries)} queries: "
             f"{' '.join(f'{w:.3f}' for w in read_walls)}; "
             f"manifest entries {entries_seen})")
    out.line(f"compact_s: {compact_wall:.4f} s (n=1, {len(purged)} deletes purged)")
    out.line(f"index_bytes_per_text_byte: {out.e2e['index_bytes_per_text_byte']:.4f} ratio "
             f"({index_bytes} bytes after the compaction)")
    out.line(f"error_rate: {out.failed / max(1, out.attempted):.4f} "
             f"({out.failed} of {out.attempted})")
    out.line(f"phases: setup {setup_s:.1f} s, append {append_wall:.1f} s, reads "
             f"{sum(read_walls):.1f} s, compaction {compact_wall:.1f} s, oracle "
             f"{time.perf_counter() - t_check:.1f} s")
    out.state = {"timed_from": timed_from, "append_wall": append_wall,
                 "read_walls": read_walls, "append_bytes": append_bytes,
                 "entries": entries_seen, "compact_wall": compact_wall,
                 "compact_bytes": compact_bytes, "index_bytes": index_bytes,
                 "root": root}
    return out


def layers(out: Outcome, spans: list[trace.Span], costs: dict) -> dict[str, float]:
    st = out.state
    root: Path = st["root"]
    timed = [s for s in spans if s.start >= st["timed_from"]]
    m: dict[str, float] = {}
    appends = [s for s in timed if s.name == "stream.process_batch"]
    m["analyzer.python_s"] = sum(trace.py_total(costs[s.sid], "run", "analyzer")
                                 for s in appends)
    m["analyzer.rows_out"] = sum(costs[s.sid].rows.get("analyzer", 0) for s in appends)
    segs = [root / d for d in _index_dirs(root) if d.startswith("segs_g")]
    m["packed.bytes"] = sum(measure.dir_bytes(d) for d in segs)
    m["positions.bytes"] = sum(measure.dir_bytes(root / d) for d in _index_dirs(root)
                               if d.startswith("pos_g"))
    m["packed.segments"] = sum(measure.parquet_rows(d) for d in segs)
    reads = [s for s in timed if s.name == "query.wand_topk"]
    m.update(trace.request_layers(reads, costs))
    res = sum(s.attrs.get("results", 0) for s in reads)
    if res:
        m["wand.cand_per_result"] = sum(costs[s.sid].rows.get("kernel", 0)
                                        for s in reads) / res
    m["stream.read_p50_s"] = measure.median(st["read_walls"][1:READS_AFTER_APPEND])
    m["stream.append_s"] = st["append_wall"]
    m["stream.append_bytes"] = st["append_bytes"]
    m["stream.manifest_entries"] = measure.median(st["entries"])
    m["stream.compact_s"] = st["compact_wall"]
    m["stream.compact_bytes"] = st["compact_bytes"]
    m["stream.write_amp"] = (st["append_bytes"] + st["compact_bytes"]) / st["index_bytes"]
    return m
