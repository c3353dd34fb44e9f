"""The HTTP surface end-to-end (http_api.py vs /root/reference/api/main.py):
real sockets, real ResidentSearcher.  Response shape, every validation
case and its order, performance_mode, hybrid parent dedup, stats and
health, plus ranked parity with the Spark ``SearchEngine``."""

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from chavinha_mini_search_engine_spark.http_api import ResidentHTTPServer


@pytest.fixture(scope="module")
def srv(built):
    s = ResidentHTTPServer(built).start()
    yield s
    s.stop()


def _get(srv, path):
    with urllib.request.urlopen(
        f"http://127.0.0.1:{srv.port}{path}", timeout=30
    ) as r:
        return r.status, json.loads(r.read())


def _get_err(srv, path):
    try:
        _get(srv, path)
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _search(srv, q, search_type, limit, **extra):
    qs = urllib.parse.urlencode(
        {"q": q, "search_type": search_type, "limit": limit, **extra})
    code, body = _get(srv, f"/api/search?{qs}")
    assert code == 200
    return body


def test_search_endpoint_shape_and_parity(spark, built, srv):
    q = "python async programming"
    body = _search(srv, q, "bm25", 5)
    assert body["query"] == q
    assert body["search_type"] == "bm25"
    assert body["total_hits"] == len(body["results"]) <= 5
    assert body["results"], "expected hits on the fixture corpus"
    first = body["results"][0]
    assert set(first) == {
        "id", "url", "title", "snippet", "domain", "relevance", "doc_type",
    }
    assert first["url"].startswith("https://")
    assert first["relevance"] > 0
    assert first["doc_type"] == "full_doc"
    rel = [r["relevance"] for r in body["results"]]
    assert rel == sorted(rel, reverse=True)
    assert body["search_time_ms"] > 0

    # same ranked (id, relevance) list as the Spark engine over the same
    # store (resident==spark parity is the serve suite's invariant,
    # re-checked here over HTTP)
    from chavinha_mini_search_engine_spark.operators.search import SearchEngine

    rows = SearchEngine(spark, built).search(q, "bm25", 5).orderBy("rank").collect()
    assert [(r["id"], round(r["relevance"], 9)) for r in body["results"]] == [
        (r["id"], round(r["relevance"], 9)) for r in rows
    ]


def test_search_validation_http_codes(srv):
    for path, frag in [
        ("/api/search?q=", "empty"),                         # main.py:556
        ("/api/search?q=%20%20", "empty"),
        ("/api/search?q=x&search_type=fuzzy", "Invalid"),    # main.py:558
        ("/api/search?q=x&limit=0", "limit"),                # main.py:562
        ("/api/search?q=x&limit=51", "limit"),
        ("/api/search?q=x&performance_mode=turbo", "performance"),
        ("/api/search?q=x&limit=abc", "integer"),
    ]:
        code, body = _get_err(srv, path)
        assert code == 400, path
        assert frag.lower() in body["detail"].lower(), (path, body)
    code, _ = _get_err(srv, "/nope")
    assert code == 404


def test_validation_checks_search_type_before_empty_query(srv):
    """main.py:551-564 order: a bad search_type is reported even when the
    query is empty too."""
    code, body = _get_err(srv, "/api/search?q=&search_type=fuzzy")
    assert code == 400
    assert body["detail"] == "Invalid search type"


def test_performance_mode_accepted_and_ranking_invariant(srv):
    """api/main.py:352-353,552: the mode switches Vespa's *_ultra profiles,
    whose first-phase expressions are identical (doc.sd:214-256) -- so it
    must be accepted, echoed, and leave ranking unchanged."""
    q = "python async programming"
    ultra = _search(srv, q, "bm25", 5, performance_mode="ultra")
    normal = _search(srv, q, "bm25", 5, performance_mode="normal")
    assert ultra["performance_mode"] == "ultra"
    assert normal["performance_mode"] == "normal"
    assert ultra["results"]
    assert [(r["id"], r["relevance"]) for r in ultra["results"]] == [
        (r["id"], r["relevance"]) for r in normal["results"]
    ]


def test_hybrid_dedups_parents(srv):
    body = _search(srv, "python function code", "hybrid", 10)
    ids = [r["id"] for r in body["results"]]
    assert ids
    assert len(ids) == len(set(ids)), "parent dedup must hold (D1)"


def test_all_search_types_over_http(srv):
    for st in ("bm25", "semantic", "hybrid"):
        assert _search(srv, "python", st, 3)["search_type"] == st


def test_stats_endpoint(spark, built, srv):
    code, body = _get(srv, "/api/stats")
    assert code == 200
    assert body["total_documents"] == built.read(spark, "docs").count() > 0
    assert body["domains"]
    assert body["total_documents"] == sum(
        d["document_count"] for d in body["domains"]
    )
    counts = [d["document_count"] for d in body["domains"]]
    assert counts == sorted(counts, reverse=True)


def test_health_endpoint(srv):
    code, body = _get(srv, "/health")
    assert code == 200
    assert body["status"] == "healthy"
    assert body["api"] == "up" and body["backend"] == "up"
    assert body["index_build_id"] == "parity-build"
    assert body["shards_resident"] > 0
