"""HTTP serving smoke: the reference's Searcher HTTP surface
(Searcher.java:128-317 /search, :319-337 /words) served from a warm
SearchEngine through jobs/http_serve_job.py on an ephemeral port."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from jobs.http_serve_job import serve_http
from mini_distributed_search_engine_spark.plans.pipeline import StagedIndexBuild
from mini_distributed_search_engine_spark.query.engine import SearchEngine
from mini_distributed_search_engine_spark.sources.transcripts import (
    synthesize_transcripts_pdf)


@pytest.fixture(scope="module")
def http_base(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("http_idx")
    tr = spark.createDataFrame(synthesize_transcripts_pdf(40, seed=11))
    StagedIndexBuild(spark, str(root), run_id="http").run(
        tr, shard_span=64, merge_factor=4)
    engine = SearchEngine(spark, str(root))
    srv = serve_http(engine, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=120) as resp:
        return resp.status, json.loads(resp.read())


def test_search_route(http_base):
    code, body = _get(f"{http_base}/search?q=apple+banana&k=5")
    assert code == 200
    assert body["rows"] and body["rows"][0]["rank"] == 1
    assert {"doc_id", "score", "conv_id", "snippet"} <= set(body["rows"][0])


def test_words_and_stats_routes(http_base):
    code, body = _get(f"{http_base}/words?prefix=s&n=5")
    assert code == 200 and all(t.startswith("s") for t in body["terms"])
    code, body = _get(f"{http_base}/stats")
    assert code == 200 and body["n_docs"] > 0 and body["served"] >= 1


def test_bad_requests_get_4xx_not_500(http_base):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{http_base}/search?k=5")          # missing q
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{http_base}/search?q=x&mode=nope")
    assert e.value.code == 400
    for path in ("/nope", "/hybrid?q=x&vec=1"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"{http_base}{path}")
        assert e.value.code == 404


def test_delete_route(http_base):
    # runs LAST in this module: the fixture engine is shared and
    # tombstones persist for the engine's lifetime by design
    import urllib.error
    code, body = _get(f"{http_base}/search?q=apple+banana&k=5")
    assert code == 200 and body["rows"]
    victim = body["rows"][0]["doc_id"]
    req = urllib.request.Request(f"{http_base}/delete?ids={victim}",
                                 method="POST")
    with urllib.request.urlopen(req, timeout=120) as resp:
        assert resp.status == 200
        d = json.loads(resp.read())
    assert d == {"deleted": 1, "tombstones": 1}
    code, body = _get(f"{http_base}/search?q=apple+banana&k=5")
    assert victim not in {r["doc_id"] for r in body["rows"]}
    # malformed requests get 400s, not 500s
    for bad in ("/delete", "/delete?ids=", "/delete?ids=a,b"):
        req = urllib.request.Request(f"{http_base}{bad}", method="POST")
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req, timeout=120)
        assert e.value.code == 400, bad
    # /delete is POST-only (GET mutating state would be wrong)
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{http_base}/delete?ids=1")
    assert e.value.code == 404
    # JSON-body form (the big-batch path: the request LINE caps at 64 KB)
    req = urllib.request.Request(
        f"{http_base}/delete", method="POST",
        data=json.dumps({"ids": [victim, victim + 1]}).encode(),
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=120) as resp:
        d = json.loads(resp.read())
    assert resp.status == 200 and d["deleted"] == 2
    req = urllib.request.Request(f"{http_base}/delete", method="POST",
                                 data=b"not json",
                                 headers={"Content-Length": "8"})
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=120)
    assert e.value.code == 400
    # /checkpoint persists the live set beside the index root (the
    # durable half: jobs/compact_index_job.py folds it in later)
    req = urllib.request.Request(f"{http_base}/checkpoint", method="POST")
    with urllib.request.urlopen(req, timeout=120) as resp:
        d = json.loads(resp.read())
    assert resp.status == 200 and d["checkpointed"] == 2


def test_proximity_route(http_base):
    code, body = _get(f"{http_base}/proximity?q=apple+banana&k=5")
    assert code == 200
    assert body["rows"] and body["rows"][0]["rank"] == 1
    assert {"doc_id", "score", "conv_id", "snippet"} <= set(body["rows"][0])
    # proximity score >= plain BM25 score for the same doc (bonus >= 0)
    _, plain = _get(f"{http_base}/search?q=apple+banana&k=500")
    by_doc = {r["doc_id"]: r["score"] for r in plain["rows"]}
    assert all(r["score"] >= by_doc[r["doc_id"]] - 1e-9
               for r in body["rows"])


def test_near_route(http_base):
    code, body = _get(f"{http_base}/near?q=apple+banana&k=5&window=10")
    assert code == 200
    rows = body["rows"]
    assert all(r["min_span"] < 10 for r in rows)
    if rows:
        assert rows[0]["rank"] == 1
        spans = [r["min_span"] for r in rows]
        assert spans == sorted(spans)
