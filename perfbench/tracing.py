"""Spans and counters recorded around the calls into each layer.

Tracing lives entirely in the benchmark: ``install_build`` and
``install_serve`` replace public functions and methods of the package with
wrappers that record a span per call (name, start, end, parent span,
thread) and a few counters.  Spans stay in memory and are written out when
the phase ends.  A layer's self time is its span's duration minus the
durations of its direct child spans.

The Spark event log (``spark.eventLog.enabled``) gives per-job-group task
time, shuffle-write and spill bytes; ``event_log_metrics`` folds it.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from typing import Dict, List


class Tracer:
    def __init__(self):
        self.spans: List[tuple] = []  # (id, parent, name, t0, t1, attrs)
        self.counters: Counter = Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, fn, name: str, attrs=None):
        """``attrs(args, kwargs) -> dict`` labels a span from its call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            parent = stack[-1] if stack else None
            with self._lock:
                sid = next(self._ids)
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                a = attrs(args, kwargs) if attrs else None
                with self._lock:
                    self.spans.append((sid, parent, name, t0, t1, a))

        return traced

    def patch(self, owner, attr: str, name: str, attrs=None,
              static: bool = False) -> None:
        fn = getattr(owner, attr)
        w = self.wrap(fn, name, attrs)
        setattr(owner, attr, staticmethod(w) if static else w)

    def count_calls(self, owner, attr: str, classify) -> None:
        """Counts ``classify(result)`` labels of every call, no span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            r = fn(*args, **kwargs)
            label = classify(r)
            with self._lock:
                self.counters[label] += 1
            return r

        setattr(owner, attr, counted)

    def dump(self) -> dict:
        return {"spans": self.spans, "counters": dict(self.counters)}


def _table_attrs(args, kwargs):
    # IndexStore.write(self, df, table, part=None, ...)
    table = kwargs.get("table", args[2] if len(args) > 2 else None)
    part = kwargs.get("part", args[3] if len(args) > 3 else None)
    return {"table": table, "part": part}


def install_build(tracer: Tracer) -> None:
    """Spark-phase wrappers: every table write (tagged with its table and
    part), the driver-side corpus-stats step and the postings plan."""
    from chavinha_mini_search_engine_spark.operators import index_build
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    tracer.patch(IndexStore, "write", "tables.write", _table_attrs)
    tracer.patch(index_build, "write_corpus_stats_local",
                 "index_build.corpus_stats")
    tracer.patch(index_build, "build_postings_for",
                 "index_build.build_postings_for")


def install_serve(tracer: Tracer) -> None:
    """Serve-phase wrappers: searcher load steps, the query path under the
    root span ``serve.search`` and postings-cache hits/misses."""
    from chavinha_mini_search_engine_spark.operators import search, serve

    tracer.patch(search, "fused_state", "serve.load.fused_state")
    tracer.patch(search, "post_groups", "serve.load.post_groups")
    tracer.patch(serve.ResidentSearcher, "search", "serve.search")
    tracer.patch(serve.ResidentSearcher, "search_candidates",
                 "serve.search_candidates")
    tracer.patch(serve.ResidentSearcher, "merge_candidates",
                 "serve.merge_candidates", static=True)
    tracer.patch(serve, "_query_terms", "search.query_terms")
    tracer.patch(search, "score_shard", "search.score_shard")
    tracer.patch(search, "topk_dedup", "search.topk_dedup")
    tracer.count_calls(
        search.PostingsCache, "get",
        lambda r: "postings_cache.misses" if r is None
        else "postings_cache.hits")


def self_times(spans: List[tuple]) -> Dict[int, float]:
    """span id -> duration minus its direct children's durations."""
    child = defaultdict(float)
    for _sid, parent, _n, t0, t1, _a in spans:
        if parent is not None:
            child[parent] += t1 - t0
    return {sid: (t1 - t0) - child[sid] for sid, _p, _n, t0, t1, _a in spans}


QUERY_LAYERS = (
    "search.query_terms", "serve.search_candidates", "search.score_shard",
    "search.topk_dedup", "serve.merge_candidates",
)


def query_layer_metrics(spans: List[tuple]) -> Dict[str, float]:
    """Per-query medians (ms) of each query-path layer's self time, summed
    over that layer's calls within one ``serve.search`` root span;
    ``serve.enrich_ms`` is the root's own self time (doc-store fetch and
    snippets).  ``serve.search_total_ms`` is the median root duration and
    ``serve.layers_accounted`` the share of it that the layer medians sum
    to."""
    selft = self_times(spans)
    parent_of = {sid: p for sid, p, *_ in spans}
    roots = {sid: (t1 - t0) for sid, p, n, t0, t1, _a in spans
             if n == "serve.search"}

    def root_of(sid):
        while sid is not None and sid not in roots:
            sid = parent_of.get(sid)
        return sid

    per = {r: Counter() for r in roots}
    for sid, _p, name, *_ in spans:
        if name in QUERY_LAYERS:
            r = root_of(sid)
            if r is not None:
                per[r][name] += selft[sid]
    if not roots:
        return {}
    out = {
        f"{name}_ms": 1e3 * statistics.median(per[r][name] for r in roots)
        for name in QUERY_LAYERS
    }
    out["serve.enrich_ms"] = 1e3 * statistics.median(selft[r] for r in roots)
    total = 1e3 * statistics.median(roots.values())
    out["serve.search_total_ms"] = total
    out["serve.layers_accounted"] = sum(
        v for k, v in out.items() if k != "serve.search_total_ms") / total
    return out


BUILD_STAGES = ("docs", "chunks", "unified", "stats", "postings", "attributes")


def event_log_metrics(log_dir: str) -> Dict[str, float]:
    """Per ``build:{stage}`` job group: summed executor run time (s), plus
    shuffle bytes written and bytes spilled (MB) over all build groups."""
    stage_group: Dict[int, str] = {}
    task_s = Counter()
    shuffle = spill = 0
    files = sorted(os.path.join(r, fn) for r, _d, fs in os.walk(log_dir)
                   for fn in fs if not fn.startswith("."))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = grp
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev.get("Stage ID"))
                    if not grp or not grp.startswith("build:"):
                        continue
                    m = ev.get("Task Metrics") or {}
                    task_s[grp[6:]] += m.get("Executor Run Time", 0) / 1e3
                    shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    out = {f"index_build.{s}.task_s": task_s[s] for s in BUILD_STAGES}
    out["index_build.shuffle_write_mb"] = shuffle / 2**20
    out["index_build.spill_mb"] = spill / 2**20
    return out
