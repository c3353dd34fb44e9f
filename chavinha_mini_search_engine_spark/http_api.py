"""The HTTP surface: the package's one request contract.

Mirrors the reference's FastAPI surface (/root/reference/api/main.py):

- ``GET /api/search?q=&search_type=&limit=&performance_mode=``
  (main.py:547-570: search_type whitelist -> 400, empty q -> 400,
  limit bounds; response = SearchResponse with the SearchResult
  projection of main.py:509-529)
- ``GET /api/stats``   (main.py:576-665: total + per-domain counts,
  ``domain_stats``)
- ``GET /health``      (main.py:696-725: status/backend/api keys)

Parameter validation, the response shape and the stats exist only here;
the Spark ``SearchEngine`` is the Spark query path behind no request
contract of its own.

Implementation deliberately sticks to ``http.server`` (no new
dependencies in this environment); requests are served by the in-process
``ResidentSearcher`` -- zero Spark jobs per query, the architectural twin
of the reference's resident Vespa backend.  ThreadingHTTPServer +
a lock around the searcher keeps semantics simple and latency dominated
by the engine, not the transport (the engine itself is single-query
in-process; concurrent-QPS scaling is the replica story,
scripts/query_scaling_bench.py).
"""

from __future__ import annotations

import json
import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from time import time
from typing import Optional
from urllib.parse import parse_qs, urlparse

from .config import DEFAULT_LIMIT, MAX_LIMIT, SEARCH_TYPES
from .operators.serve import ResidentSearcher
from .sources.tables import IndexStore, arrow_to_numpy, parquet_files


def domain_stats(store: IndexStore, max_domains: int = 1000) -> dict:
    """/api/stats: the full-doc total and per-domain counts, at most
    ``max_domains`` groups by count desc, then domain (api/main.py:
    576-665).  The full docs are the ``doc_type == "full_doc"`` rows of
    the served ``unified`` segments -- the base docs plus every streamed
    one, and on a compacted store (no docs table) its merged rows.
    Folded one parquet row group at a time (the ``parquet_files`` walk):
    driver memory O(row group + domains)."""
    import pyarrow.parquet as pq

    counts: Counter = Counter()
    for d in store.segment_dirs("unified"):
        for path, _keys in parquet_files(d):
            pf = pq.ParquetFile(path)
            for rg in range(pf.num_row_groups):
                t = pf.read_row_group(rg, columns=["doc_type", "domain"])
                full = arrow_to_numpy(t.column("doc_type")) == "full_doc"
                counts.update(arrow_to_numpy(t.column("domain"))[full].tolist())
    domains = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return {
        "total_documents": sum(counts.values()),
        "domains": [
            {"domain": d, "document_count": n}
            for d, n in domains[:max_domains]
        ],
    }


class ResidentHTTPServer:
    """``serve()`` an IndexStore over HTTP.  Usage:

        srv = ResidentHTTPServer(store, cfg).start()
        ... GET http://127.0.0.1:{srv.port}/api/search?q=python ...
        srv.stop()
    """

    def __init__(self, store: IndexStore, cfg=None,
                 host: str = "127.0.0.1", port: int = 0,
                 searcher: Optional[ResidentSearcher] = None):
        self.store = store
        self.searcher = searcher or ResidentSearcher(store, cfg)
        self._lock = threading.Lock()
        self._stats_cache: Optional[dict] = None
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet by default
                pass

            def _json(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):  # noqa: N802 (stdlib handler name)
                try:
                    u = urlparse(self.path)
                    if u.path == "/api/search":
                        self._json(*outer._search(parse_qs(u.query)))
                    elif u.path == "/api/stats":
                        self._json(200, outer._stats())
                    elif u.path == "/health":
                        self._json(200, outer._health())
                    else:
                        self._json(404, {"detail": "Not Found"})
                except BrokenPipeError:
                    pass
                except Exception as e:  # engine error -> 500, like FastAPI
                    self._json(500, {"detail": str(e)})

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread: Optional[threading.Thread] = None

    # --- endpoints ---
    def _search(self, qs: dict) -> tuple:
        q = (qs.get("q") or [""])[0]
        search_type = (qs.get("search_type") or ["hybrid"])[0]
        performance_mode = (qs.get("performance_mode") or ["ultra"])[0]
        try:
            limit = int((qs.get("limit") or [str(DEFAULT_LIMIT)])[0])
        except ValueError:
            return 400, {"detail": "limit must be an integer"}
        # validation order + messages mirror api/main.py:551-564
        if search_type not in SEARCH_TYPES:
            return 400, {"detail": "Invalid search type"}
        if not q.strip():
            return 400, {"detail": "Query cannot be empty"}
        if not 1 <= limit <= MAX_LIMIT:
            return 400, {"detail": f"limit must be between 1 and {MAX_LIMIT}"}
        if performance_mode not in ("normal", "ultra"):
            return 400, {"detail": "Invalid performance mode"}
        t0 = time()
        with self._lock:
            hits = self.searcher.search(q, search_type, limit)
        ms = (time() - t0) * 1e3
        results = [
            {
                "id": h["id"], "url": h["url"], "title": h["title"],
                "snippet": h["snippet"], "domain": h["domain"],
                "relevance": h["relevance"], "doc_type": h["doc_type"],
            }
            for h in hits
        ]
        return 200, {
            "query": q,
            "results": results,
            "total_hits": len(results),
            "search_time_ms": round(ms, 3),
            "search_type": search_type,
            "performance_mode": performance_mode,
        }

    def _stats(self) -> dict:
        """Computed once per server (a resident server has no
        SparkSession); cached -- the reference likewise serves a
        metadata snapshot."""
        if self._stats_cache is None:
            self._stats_cache = domain_stats(self.store)
        return self._stats_cache

    def _health(self) -> dict:
        ok = bool(self.searcher.state_by_shard) and self.store.exists("postings")
        return {
            "status": "healthy" if ok else "degraded",
            "backend": "up" if ok else "down",   # the Vespa slot (main.py:722)
            "api": "up",
            "index_build_id": self.store.build_id,
            "shards_resident": len(self.searcher.state_by_shard),
        }

    # --- lifecycle ---
    def start(self) -> "ResidentHTTPServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
