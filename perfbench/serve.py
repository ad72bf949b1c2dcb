"""Workload ``serve``: offline build and batch, then open-loop HTTP serving.

Set-up writes the corpus, builds it with ``StagedIndexBuild.run`` (timed
from outside, and read back from each stage's ``_COMMITTED.json``) and
warms a ``SearchEngine`` behind ``serve_http``. The timed part runs a few
large ``search_batch`` jobs, then a single-process open loop: seeded
arrivals at a fixed rate (a Poisson process conditioned on its count), at
most ``nproc`` requests in flight, each timed from its due time. The
deletes of the loop include documents from the warm-up answers of the two
check queries run after it, so a tombstone the engine ignores shows as an
oracle mismatch.
"""

from __future__ import annotations

import json
import math
import queue
import threading
import time
import urllib.error
import urllib.request
from pathlib import Path
from urllib.parse import parse_qs, urlencode, urlparse

import numpy as np

from jobs.http_serve_job import serve_http
from mini_distributed_search_engine_spark.plans.pipeline import StagedIndexBuild
from mini_distributed_search_engine_spark.query.bm25 import Query
from mini_distributed_search_engine_spark.query.engine import SearchEngine

from . import inputs, measure, trace
from .common import Context, Outcome
from .oracle_check import Oracle, compare

N_CONVS = 1500              # 6k turns
MERGE_FACTOR = 8            # StagedIndexBuild.run / build_index_job default
# batch phase: rounds of these jobs, each with fresh queries; the rate is
# the median over rounds, so one slow job does not move it. The first
# round runs in set-up: the first batch jobs of a process run slower.
BATCH_JOBS = (("or", 300), ("and", 100))
BATCH_ROUNDS = 5            # 1 warm-up + 4 timed
# about half the closed-loop capacity: 4 clients back to back on this mix
# served 2.3-2.9 requests/s (6k turns, local[4], 4-core VM)
RATE = 1.3
REQUEST_TIMEOUT = 60.0
DRAIN_TIMEOUT = 90.0
STAGES = ("docs", "term_doc_tf", "positions", "positions_packed", "stats",
          "packed", "merged")
SERVING = ("docs", "stats", "merged", "positions_packed")
LINEAGE_TOLERANCE = 0.25
POSITIONAL = ("phrase", "proximity", "near")
ENGINE_CALLS = ("search", "search_batch", "search_phrase", "search_near",
                "search_proximity", "suggest", "delete_docs",
                "checkpoint_tombstones")
# per-layer metrics this workload measures (BENCHMARK.json names)
LAYERS = (tuple(f"pipeline.{s}_s" for s in STAGES)
          + ("pipeline.write_amp", "analyzer.python_s", "analyzer.rows_out",
             "packed.bytes", "positions.bytes", "packed.segments")
          + tuple(f"engine.{c}_s" for c in ENGINE_CALLS)
          + trace.REQUEST_LAYERS
          + ("phrase.python_run_s", "span.python_run_s", "proximity.python_run_s",
             "wand.cand_per_result", "http.self_s", "http.5xx",
             "http.search_p50_s", "http.positional_p50_s"))


def shard_span(n_turns: int, nproc: int) -> int:
    """Largest power of two giving at least ``nproc`` merged shards."""
    return 1 << max(0, int(math.log2(max(1, n_turns // (nproc * MERGE_FACTOR)))))


def _http(base: str, p: inputs.Planned) -> tuple[int, dict | None]:
    req = urllib.request.Request(base + p.path, method=p.method,
                                 data=b"" if p.method == "POST" else None)
    try:
        with urllib.request.urlopen(req, timeout=REQUEST_TIMEOUT) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, None
    except (OSError, ValueError):
        return 0, None


def _get(base: str, route: str, params: dict) -> tuple[int, dict | None]:
    return _http(base, inputs.Planned(-1, 0.0, route, "GET",
                                      f"{route}?{urlencode(params)}", ""))


def _rows(body: dict | None, value: str) -> list[tuple]:
    return [(r["rank"], r["doc_id"], r[value]) for r in (body or {}).get("rows", [])]


def _trace_handler(tracer, srv, client_span: dict) -> None:
    """Span each handled request, parented to the client's span by the
    ``rid`` query parameter the load generator adds."""
    if not tracer.enabled:
        return
    handler = srv.RequestHandlerClass
    for verb in ("do_GET", "do_POST"):
        inner = getattr(handler, verb)

        def spanned(self, _inner=inner):
            rid = parse_qs(urlparse(self.path).query).get("rid", [None])[0]
            rid = int(rid) if rid is not None else None
            with tracer.span("http.server", rid=rid,
                             parent=client_span.get(rid)):
                return _inner(self)

        setattr(handler, verb, spanned)


def _open_loop(ctx: Context, base: str, plan: list[inputs.Planned],
               client_span: dict) -> list:
    tracer = ctx.tracer
    todo: queue.Queue = queue.Queue()
    results: list = [None] * len(plan)

    def client() -> None:
        while True:
            item = todo.get()
            if item is None:
                return
            p, due = item
            sent = time.perf_counter()
            with tracer.span("http.client", rid=p.rid) as s:
                if s is not None:
                    client_span[p.rid] = s.sid
                code, body = _http(base, p)
            results[p.rid] = (code, body,
                              measure.Request(due, sent, time.perf_counter()))

    threads = [threading.Thread(target=client, daemon=True)
               for _ in range(ctx.nproc)]
    for t in threads:
        t.start()
    start = time.perf_counter() + 0.05
    for p in plan:
        delay = start + p.due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        todo.put((p, start + p.due))
    for _ in threads:
        todo.put(None)
    deadline = time.perf_counter() + DRAIN_TIMEOUT
    for t in threads:
        t.join(timeout=max(0.0, deadline - time.perf_counter()))
    return results


def run(ctx: Context) -> Outcome:
    out = Outcome()
    spark, tracer = ctx.spark, ctx.tracer
    rng = np.random.default_rng(ctx.seed)
    pdf = inputs.corpus(ctx.seed, N_CONVS)
    n_turns = len(pdf)
    corpus_path = str(ctx.work / "corpus.parquet")
    inputs.write_parquet(pdf, corpus_path)
    texts = pdf["text"].tolist()
    gen = inputs.QueryGen(rng, inputs.vocab_by_rank(pdf), texts)
    batches = [[(mode, inputs.batch_queries(gen, n, f"{mode}{j}_{i}_"))
                for i, (mode, n) in enumerate(BATCH_JOBS)]
               for j in range(BATCH_ROUNDS)]
    check_gen = inputs.QueryGen(np.random.default_rng(ctx.seed + 7919),
                                gen.vocab, texts)
    role_q = check_gen.check_query("c_role")
    phrase_q = Query("c_ph", check_gen.phrase(), k=10)

    # -- set-up: build, warm engine, start server -----------------------------
    root = ctx.work / "index"
    span = shard_span(n_turns, ctx.nproc)
    t = time.perf_counter()
    with tracer.span("pipeline.run"):
        StagedIndexBuild(spark, str(root)).run(
            spark.read.parquet(corpus_path), positions=True, shard_span=span)
    build_wall = time.perf_counter() - t
    index_bytes = measure.dir_bytes(root)
    engine = SearchEngine(spark, str(root))
    for name in ENGINE_CALLS:
        if name == "search_batch":
            continue        # spanned at its call below, with its result rows
        tracer.wrap(engine, name, f"engine.{name}",
                    results=len if name.startswith("search") else None)
    # warm-up with the check queries: starts the Python workers and loads
    # what the engine caches lazily (the role filter's shard bounds and the
    # packed positional index shared by /phrase, /near and /proximity).
    # Some of their top documents become the loop's first deletes.
    warm = role_q.text
    role_top = [r["doc_id"] for r in engine.search(warm, k=role_q.k, role="user")]
    phrase_top = [r["doc_id"] for r in engine.search_phrase(phrase_q.text, k=phrase_q.k)]
    for mode, qs in batches[0]:
        engine.search_batch(qs, mode=mode).collect()
    plan = inputs.serve_schedule(gen, RATE, ctx.seconds, n_turns,
                                 pinned=dict.fromkeys(role_top[::3] + phrase_top[:2]))
    srv = serve_http(engine, 0)
    client_span: dict = {}
    _trace_handler(tracer, srv, client_span)
    server = threading.Thread(target=srv.serve_forever, daemon=True)
    server.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    _get(base, "/search", {"q": warm, "k": 1})
    setup_s = time.perf_counter() - ctx.t0
    timed_from = time.time()

    try:
        # -- timed: batch jobs --------------------------------------------------
        round_walls, batch_rows = [], {}
        for jobs in batches[1:]:
            t_round = time.perf_counter()
            for mode, qs in jobs:
                out.attempted += 1
                with tracer.span("engine.search_batch") as s:
                    rows = engine.search_batch(qs, mode=mode).collect()
                    if s is not None:
                        s.attrs["results"] = len(rows)
                for r in rows:
                    batch_rows.setdefault((mode, r["query_id"]), []).append(
                        (r["rank"], r["doc_id"], r["score"]))
            round_walls.append(time.perf_counter() - t_round)
        round_queries = sum(n for _, n in BATCH_JOBS)

        # -- timed: open loop ---------------------------------------------------
        t_loop = time.perf_counter()
        results = _open_loop(ctx, base, plan, client_span)
        t_post = time.perf_counter()

        # -- post-run checks through the same server ---------------------------
        deleted = sorted({d for p, r in zip(plan, results)
                          if p.kind == "delete" and r and r[0] == 200
                          for d in p.delete_ids})
        role_resp = _get(base, "/search", {"q": role_q.text, "k": role_q.k,
                                           "role": "user"})
        phrase_resp = _get(base, "/phrase", {"q": phrase_q.text, "k": 10})
    finally:
        srv.shutdown()
        srv.server_close()
        server.join(timeout=10)

    # -- correctness --------------------------------------------------------------
    ctx.rss.stop()
    t_check = time.perf_counter()
    orc = Oracle(pdf)
    for mode, qs in batches[1]:
        picked = qs[::10]
        want = orc.topk(picked, mode=mode)
        for q in picked:
            out.checked += 1
            m = compare(f"batch {mode} {q.text!r}",
                        batch_rows.get((mode, q.query_id), []), want[q.query_id])
            if m:
                out.mismatches.append(m)
    for label, resp, want, unmasked in (
            (f"/search role=user {role_q.text!r}", role_resp,
             orc.topk((role_q,), role="user", blocked=deleted)[role_q.query_id],
             orc.topk((role_q,), role="user")[role_q.query_id]),
            (f"/phrase {phrase_q.text!r}", phrase_resp,
             orc.phrase((phrase_q,), blocked=deleted)[phrase_q.query_id],
             orc.phrase((phrase_q,))[phrase_q.query_id])):
        out.checked += 1
        m = compare(f"after {len(deleted)} deletes {label} (HTTP {resp[0]})",
                    _rows(resp[1], "score" if label.startswith("/search") else "n_occ"),
                    want)
        if m is None and not set(deleted) & {d for _, d, _ in unmasked}:
            m = (f"{label}: the oracle's top-{len(unmasked)} holds none of the "
                 f"{len(deleted)} deleted docs, so the check cannot see tombstones")
        if m:
            out.mismatches.append(m)

    # -- end-to-end metrics -------------------------------------------------------
    done = [(p, r) for p, r in zip(plan, results) if r is not None]
    ok = [(p, r) for p, r in done if r[0] == 200]
    out.attempted += len(plan)
    out.failed += len(plan) - len(ok)
    search_lat = [r[2].latency for p, r in ok if p.kind.startswith("search")]
    pos_lat = [r[2].latency for p, r in ok if p.kind in POSITIONAL]
    if not search_lat:
        raise RuntimeError("no /search request of the open loop succeeded")
    text_bytes = inputs.text_bytes(pdf)
    lag = measure.schedule_lag([r[2] for _, r in done])
    out.e2e = {
        "setup_s": setup_s,
        "index_turns_per_s": n_turns / build_wall,
        "index_bytes_per_text_byte": index_bytes / text_bytes,
        "batch_queries_per_s": round_queries / measure.median(round_walls),
    }

    # -- human report -------------------------------------------------------------
    p90 = measure.p90(search_lat)
    walls = {s: json.loads((root / s / "_COMMITTED.json").read_text())["wall_ms"] / 1000
             for s in STAGES}
    stage_sum = sum(walls.values())
    gap = (build_wall - stage_sum) / build_wall
    out.line(f"corpus: {n_turns} turns, {text_bytes} text bytes, shard_span {span}")
    out.line(f"build_turns_per_s: {n_turns / build_wall:.1f} 1/s (n=1, run wall {build_wall:.3f} s)")
    out.line("build lineage: " + ", ".join(f"{s} {w:.3f}s" for s, w in walls.items())
             + f"; stage sum {stage_sum:.3f} s vs run wall {build_wall:.3f} s"
             + f" (gap {gap:+.0%}{' FLAG: lineage disagrees with wall' if abs(gap) > LINEAGE_TOLERANCE else ''})")
    out.line(f"index_bytes_per_text_byte: {index_bytes / text_bytes:.4f} ratio ({index_bytes} bytes)")
    out.line(f"batch_queries_per_s: {out.e2e['batch_queries_per_s']:.1f} 1/s "
             f"(median of n={len(round_walls)} rounds of {len(BATCH_JOBS)} jobs, "
             f"{round_queries} queries each: "
             f"{' '.join(f'{w:.3f}' for w in round_walls)} s)")
    out.line(f"search_p50_s: {measure.median(search_lat):.4f} s (n={len(search_lat)}, "
             "open loop, from due time)")
    out.line(f"search_p90_s: {p90:.4f} s (n={len(search_lat)})" if p90 is not None else
             f"search_p90_s: n/a (n={len(search_lat)} leaves fewer than "
             f"{measure.MIN_BEYOND} samples beyond p90)")
    out.line(f"positional_p50_s: {measure.median(pos_lat):.4f} s (n={len(pos_lat)})"
             if pos_lat else "positional_p50_s: n/a (n=0)")
    out.line(f"error_rate: {out.failed / max(1, out.attempted):.4f} "
             f"({out.failed} of {out.attempted})")
    out.line(f"open loop: rate {RATE}/s, {len(plan)} requests over {ctx.seconds:.0f} s, "
             f"at most {ctx.nproc} in flight; generator late p50 {lag['late_p50_s']:.3f} s, "
             f"max {lag['late_max_s']:.3f} s"
             + (" FLAG: fell behind schedule" if lag["behind"] else ""))
    out.line(f"tombstones after run: {len(deleted)} of {n_turns} docs")
    out.line(f"phases: setup {setup_s:.1f} s (build {build_wall:.1f} s), batch "
             f"{sum(round_walls):.1f} s, open loop {t_post - t_loop:.1f} s, post-run "
             f"requests {t_check - t_post:.1f} s, oracle {time.perf_counter() - t_check:.1f} s")

    out.state = {"root": root, "timed_from": timed_from, "results": results,
                 "search_lat": search_lat, "pos_lat": pos_lat, "walls": walls}
    return out


def layers(out: Outcome, spans: list[trace.Span], costs: dict) -> dict[str, float]:
    """Per-layer metrics of a traced run (names as in BENCHMARK.json)."""
    st = out.state
    root: Path = st["root"]
    m: dict[str, float] = {}
    for s, w in st["walls"].items():
        m[f"pipeline.{s}_s"] = w
    written = sum(measure.dir_bytes(root / s) for s in STAGES) \
        + measure.dir_bytes(root / "_lineage")
    m["pipeline.write_amp"] = written / sum(measure.dir_bytes(root / s) for s in SERVING)
    for s in spans:
        if s.name == "pipeline.run":
            m["analyzer.python_s"] = trace.py_total(costs[s.sid], "run", "analyzer")
            m["analyzer.rows_out"] = costs[s.sid].rows.get("analyzer", 0)
    m["packed.bytes"] = measure.dir_bytes(root / "merged" / "data")
    m["positions.bytes"] = measure.dir_bytes(root / "positions_packed" / "data")
    m["packed.segments"] = measure.parquet_rows(root / "merged" / "data")

    by_id = {s.sid: s for s in spans}
    top = [s for s in spans if s.name.startswith("engine.")
           and s.start >= st["timed_from"] and not _has_engine_parent(s, by_id)]
    reads = [s for s in top if s.name == "engine.search"]
    m.update(trace.request_layers(reads, costs))
    for name in ENGINE_CALLS:
        d = [s.dur for s in top if s.name == f"engine.{name}"]
        if d:
            m[f"engine.{name}_s"] = measure.median(d)
    for kernel, call in (("phrase", "engine.search_phrase"),
                         ("span", "engine.search_near"),
                         ("proximity", "engine.search_proximity")):
        v = [trace.py_total(costs[s.sid], "run", "kernel") for s in top if s.name == call]
        if v:
            m[f"{kernel}.python_run_s"] = measure.median(v)
    wand = [s for s in top if s.name in ("engine.search", "engine.search_batch")]
    res = sum(s.attrs.get("results", 0) for s in wand)
    if res:
        m["wand.cand_per_result"] = sum(costs[s.sid].rows.get("kernel", 0)
                                        for s in wand) / res

    # client-observed time not spent inside the server's handler
    server = {s.parent: s for s in spans if s.name == "http.server"}
    self_s = [trace.self_time(c, [server[c.sid]]) for c in spans
              if c.name == "http.client" and c.sid in server]
    if self_s:
        m["http.self_s"] = measure.median(self_s)
    m["http.5xx"] = sum(1 for r in st["results"] if r and r[0] >= 500)
    m["http.search_p50_s"] = measure.median(st["search_lat"])
    if st["pos_lat"]:
        m["http.positional_p50_s"] = measure.median(st["pos_lat"])
    return m


def _has_engine_parent(s: trace.Span, by_id: dict) -> bool:
    p = by_id.get(s.parent)
    while p is not None:
        if p.name.startswith("engine."):
            return True
        p = by_id.get(p.parent)
    return False
