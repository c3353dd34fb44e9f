"""The request contract in-process (http_api.py vs /root/reference/api/main.py
semantics): the endpoint methods of ``ResidentHTTPServer`` called directly,
without a socket round trip.  ``test_http_api.py`` checks the same surface
over real HTTP."""

import pytest

from chavinha_mini_search_engine_spark.http_api import ResidentHTTPServer


@pytest.fixture(scope="module")
def api(built):
    s = ResidentHTTPServer(built).start()
    yield s
    s.stop()


def _qs(q, search_type="bm25", limit=5, **extra):
    return {k: [str(v)] for k, v in
            {"q": q, "search_type": search_type, "limit": limit,
             **extra}.items()}


def test_search_response_shape(api):
    code, r = api._search(_qs("python async programming", "bm25", 5))
    assert code == 200
    assert r["search_type"] == "bm25"
    assert r["total_hits"] == len(r["results"]) <= 5
    assert r["results"], "expected hits on the fixture corpus"
    first = r["results"][0]
    assert first["url"].startswith("https://")
    assert first["relevance"] > 0
    assert first["doc_type"] == "full_doc"
    assert r["results"] == sorted(r["results"], key=lambda x: -x["relevance"])


def test_search_validation(api):
    for qs in [
        _qs(""),                                  # api/main.py:556 empty q
        _qs("x", "fuzzy"),                        # :558 bad search_type
        _qs("x", "bm25", 0),                      # :562 limit bounds
        _qs("x", "bm25", 51),
        _qs("x", "bm25", 5, performance_mode="turbo"),
    ]:
        code, body = api._search(qs)
        assert code == 400, qs
        assert body["detail"], qs


def test_stats(api):
    s = api._stats()
    assert s["total_documents"] > 0
    assert s["domains"]
    assert s["total_documents"] == sum(
        d["document_count"] for d in s["domains"])
    counts = [d["document_count"] for d in s["domains"]]
    assert counts == sorted(counts, reverse=True)


def test_health(api):
    h = api._health()
    assert h["status"] == "healthy"
    assert h["shards_resident"] > 0
