"""Driver-resident serve path: the latency story (SURVEY.md §3.1, O1).

``SearchEngine`` answers queries with a Spark job per query -- correct and
the right shape for cluster-scale scatter/gather, but local-mode job
scheduling puts a ~0.3-0.5 s floor under every query, which is what
BENCH_r01 measured against the reference's ~10 ms resident Vespa server
(BASELINE.md).  This module is the resident analog: load the index ONCE
into in-process numpy structures (the Vespa content node's memory-mapped
attributes + hot posting pages, api/main.py:348-530 serving loop), then
answer each query with zero Spark jobs.

The serve process imports neither Spark nor pandas: the tables are read
file by file with ``pq.ParquetFile`` and their Arrow column buffers
become the numpy arrays directly (``tables.read_columns``); the doc
fetch reads parquet row groups and maps ids to row positions.

Scale story: at cluster scale each serving replica holds exactly its
document shards' slice of these structures (attributes + postings are both
partitioned by shard on disk, so a replica loads only its partitions); a
scatter/gather layer merges per-shard top-k -- the same global merge
``search()`` does across its in-process shards.  Here one process holds
all shards, matching the reference's single-node Vespa.

Rank/score parity with SearchEngine is asserted in tests/test_serve.py:
both paths share the numpy scoring core (operators/search.py score_shard /
topk_dedup -- the Spark path wraps it in the applyInPandas kernel), so
scoring, pruning, dedup and enrichment semantics are identical by
construction.  Here the columns -> state conversion runs ONCE at load:
one fused attribute state (fused_state) and one postings layout sorted by
term id into CSR offsets (post_groups).  A query maps (field, term) to
the term id through the resident dictionary and slices its lists.
"""

from __future__ import annotations

import os
import threading
from typing import Dict, List, Optional, Tuple

import numpy as np

from ..config import (
    DEFAULT_LIMIT,
    MAX_LIMIT,
    IndexConfig,
)
from ..oracle.embedder import embed_text
from ..sources.tables import IndexStore, read_columns
from .search import _query_terms, result_row

DOC_COLS = ["id", "url", "domain", "title", "content", "chunk_content"]
POST_COLS = [
    "tid", "shard", "first_local", "last_local", "n", "max_score",
    "doc_bytes", "tf_bytes",
]


class _DocFetcher:
    """Point-fetch of <=k doc rows by id from the parquet doc store.

    The serving analog of a doc-store lookup (Vespa's summary fetch):
    per-query cost must be O(hits), not O(files).  A generic
    ``pyarrow.dataset`` scan pays ~3-8 ms of scan setup PER FILE PER
    QUERY (fragment stat evaluation + reader construction), which at 64
    shards made a 10-hit enrichment cost ~80 ms warm -- dwarfing
    scoring.  Here each touched file's footer is parsed once and its
    per-row-group id min/max statistics cached (unified is id-sorted
    within shard and written with ~1 MB row groups, so stats prune to
    one row group per hit); a fetch decodes only matching row groups,
    one thread per file (pyarrow releases the GIL during decode).  Each
    decoded row group is cached with its {id: row} map, built once, so a
    fetch takes the <=k hit rows by position.
    """

    # decoded-row-group summary cache entries shared by all fetchers in
    # the process (the Vespa summary-cache analog): repeated hits on hot
    # documents skip the ~0.4 ms/row-group parquet decode entirely.
    # Bounded LRU; ~1 MB decoded per entry at the doc-store row-group
    # size, so the default caps resident cache memory at ~64 MB.
    CACHE_ROW_GROUPS = 64

    def __init__(self, roots: List[str]):
        from collections import OrderedDict

        self._by_shard: Dict[Optional[int], List[str]] = {}
        self._meta: Dict[str, tuple] = {}
        self._pool = None  # decode pool for LARGE fetches, created on use
        self._rg_cache: "OrderedDict[tuple, object]" = OrderedDict()
        self._cache_lock = threading.Lock()
        for root in roots:
            self.add_root(root)

    def add_root(self, root: str) -> None:
        for d in sorted(os.listdir(root)):
            p = os.path.join(root, d)
            if d.startswith(("_", ".")) or "__tmp" in d:
                continue
            if d.startswith("shard=") and os.path.isdir(p):
                s = int(d.split("=", 1)[1])
                for f in sorted(os.listdir(p)):
                    if f.endswith(".parquet"):
                        self._by_shard.setdefault(s, []).append(
                            os.path.join(p, f))
            elif d.endswith(".parquet"):
                # un-partitioned file (e.g. a streaming delta part):
                # candidate for any shard, checked once per fetch
                self._by_shard.setdefault(None, []).append(p)
            elif os.path.isdir(p):
                self.add_root(p)

    def _file_meta(self, path: str) -> tuple:
        m = self._meta.get(path)
        if m is None:
            import pyarrow.parquet as pq

            pf = pq.ParquetFile(path)
            md = pf.metadata
            col = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == "id"
            ) if md.num_row_groups else 0
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col).statistics
                if st is None or not st.has_min_max:
                    mins.append(None)  # no stats -> never prune this rg
                    maxs.append(None)
                else:
                    mins.append(st.min)
                    maxs.append(st.max)
            m = (pf, mins, maxs)
            self._meta[path] = m
        return m

    def fetch(self, ids: List[str], columns: List[str],
              shard_of, num_shards: int) -> Dict[str, tuple]:
        """ids -> {id: row tuple in ``columns`` order (sans id)}.
        ``shard_of(id, num_shards)`` is the build's xxhash shard twin."""
        wanted_by_shard: Dict[Optional[int], List[str]] = {}
        for i in ids:
            wanted_by_shard.setdefault(shard_of(i, num_shards), []).append(i)
        tasks: List[Tuple[str, List[str]]] = []
        for s, wanted in wanted_by_shard.items():
            for path in self._by_shard.get(s, ()):
                tasks.append((path, wanted))
        for path in self._by_shard.get(None, ()):
            tasks.append((path, list(ids)))

        cols_key = tuple(columns)
        rest = [c for c in columns if c != "id"]

        def read_rg(path, pf, rg):
            """(row group table, {id: row}), decoded and mapped once."""
            key = (path, rg, cols_key)
            with self._cache_lock:
                hit = self._rg_cache.get(key)
                if hit is not None:
                    self._rg_cache.move_to_end(key)
                    return hit
            t = pf.read_row_groups([rg], columns=columns, use_threads=False)
            hit = (t, {v: i for i, v in enumerate(t.column("id").to_pylist())})
            with self._cache_lock:
                self._rg_cache[key] = hit
                while len(self._rg_cache) > self.CACHE_ROW_GROUPS:
                    self._rg_cache.popitem(last=False)
            return hit

        def one(task):
            """[(id, row)] of the wanted ids in one file, in row-group
            order (a later row of the same id wins, as in a scan)."""
            path, wanted = task
            pf, mins, maxs = self._file_meta(path)
            rows = []
            for rg in range(len(mins)):
                if mins[rg] is not None and not any(
                        mins[rg] <= w <= maxs[rg] for w in wanted):
                    continue
                t, at = read_rg(path, pf, rg)
                cols = [t.column(c) for c in rest]
                rows += [
                    (w, tuple(c[at[w]].as_py() for c in cols))
                    for w in wanted if w in at
                ]
            return rows

        # serial below a task threshold: a <=k-hit fetch touches ~k files
        # x 1 row group, and an A/B on exactly that shape measured the
        # thread pool 3-4x SLOWER than a serial loop (GIL handoff + pool
        # dispatch dwarf the ~0.4 ms GIL-released decode per group).
        # Thread-parallel decode only pays off when a fetch touches many
        # files (wide delta fan-out, large k).
        if len(tasks) > 16:
            # persistent pool, not per-query: spawning + joining a fresh
            # ThreadPoolExecutor per fetch costs ~1-2 ms of thread churn
            if self._pool is None:
                from concurrent.futures import ThreadPoolExecutor

                self._pool = ThreadPoolExecutor(max_workers=8)
            results = list(self._pool.map(one, tasks))
        else:
            results = [one(t) for t in tasks]
        return {w: row for rows in results for w, row in rows}


class ResidentSearcher:
    """In-process searcher over a built IndexStore (see module docstring).

    ``shards``: optional shard-id subset — the content-node deployment
    shape.  A replica constructed with a subset loads ONLY those shards'
    attribute states / posting lists / graph rows (the tables are
    hive-partitioned by shard on disk, so the pyarrow reads prune at the
    directory level) and answers ``search_candidates`` for them; a
    gateway (any process holding the term dictionary + doc handles, e.g.
    a ``shards=()`` instance) merges candidate sets from all replicas
    with ``merge_candidates`` and enriches — identical semantics to a
    single all-shards ``search()`` because that method is now literally
    the composition of the two halves over one process's shards.
    """

    def __init__(self, store: IndexStore, cfg: Optional[IndexConfig] = None,
                 shards: Optional[List[int]] = None):
        self.shards = None if shards is None else {int(s) for s in shards}
        self.cfg = cfg or store.saved_config()

        # corpus stats + term dictionary -> plain dicts; the dictionary
        # maps (field, term) -> (tid, idf)
        self.stats = store.corpus_stats()
        td = read_columns(store.segment_dirs("term_dict"),
                          ["field", "term", "tid", "idf"])
        self.term_dict: Dict[Tuple[str, str], Tuple[int, float]] = dict(zip(
            zip(td["field"].tolist(), td["term"].tolist()),
            zip(td["tid"].astype(np.int64).tolist(),
                td["idf"].astype(np.float64).tolist())))

        # attributes -> ONE fused numpy state covering every local shard
        # (per-shard dense local-id spaces laid out back-to-back, ascending
        # shard order) + zero-copy per-shard views.  The columns -> state
        # conversion happens ONCE here instead of on every query, and warm
        # queries score ALL shards in one numpy pass over the fused state
        # instead of a python loop of ~15 small-array calls per term per
        # shard (the dominant resident-latency term once pandas was gone).
        from .search import fused_state, post_groups, state_view

        # cfg-derived so a custom-schema store (fewer indexed fields ->
        # fewer len_* columns) loads.
        # shard-subset (content-node) pruning: hive shard= tables prune at
        # the directory level, the flat postings parts filter rows (a
        # cluster deployment would co-partition postings by shard per
        # node; the filter is the single-disk stand-in)
        attr_cols = [
            "shard", "local_id", "id", "doc_type", "parent_id",
            "parent_doc_type",
        ] + [f"len_{f}" for f in self.cfg.fields] + ["embedding", "sem_bucket"]
        attrs = read_columns(store.segment_dirs("attributes"), attr_cols,
                             shards=self.shards)
        if len(attrs["local_id"]):
            self.fused, self.shard_offsets = fused_state(attrs)
            off_items = sorted(self.shard_offsets.items())
            bounds = [o for _, o in off_items] + [self.fused.n_docs]
            self.state_by_shard = {
                s: state_view(self.fused, bounds[i], bounds[i + 1])
                for i, (s, _) in enumerate(off_items)
            }
        else:  # gateway instance (shards=[]): no content resident
            self.fused, self.shard_offsets = None, {}
            self.state_by_shard = {}

        # postings -> one (tid, first)-sorted columnar layout over every
        # local shard, in CSR offsets per tid (see post_groups)
        self.postings = post_groups(
            read_columns(store.segment_dirs("postings"), POST_COLS,
                         shards=self.shards),
            self.shard_offsets)

        # doc store for enrichment: kept LAZY -- content is the widest
        # column in the system, and a resident dict of every content string
        # would scale RAM with total corpus bytes.  Per-shard point-fetch
        # structures instead (_DocFetcher): unified is hive-partitioned by
        # shard (derivable driver-side from the hit id) and id-SORTED
        # within each shard partition (assign_layout orders local_id by
        # id) with bounded ~1 MB row groups (tables.write), so a fetch
        # parses each touched file's footer ONCE (cached id min/max per
        # row group) and then decodes only the <=k matching row groups,
        # thread-parallel across shards.  The generic pyarrow dataset
        # scan this replaces cost ~8 ms of scan setup per shard file per
        # query -- 80 ms for a 10-hit enrichment, dwarfing scoring.
        # hot-postings cache: decoded (positions, query-independent BM25
        # contribution) per (shard, tid), LRU-bounded -- see
        # search.PostingsCache for the soundness argument
        from .search import PostingsCache

        self._postings_cache = PostingsCache()
        self._doc_fetcher = _DocFetcher(store.segment_dirs("unified"))

        # graph-ANN (HNSW) serve structures: persisted per-shard rows if
        # the build ran with cfg.graph_ann (the Vespa hnsw-attribute
        # analog), rebuilt lazily per shard otherwise; frozen graphs are
        # cached per shard after first use
        self._graph_rows_by_shard: Dict[int, Dict[str, np.ndarray]] = {}
        if store.exists("graph"):
            g = read_columns(store.segment_dirs("graph"),
                             ["shard", "local_id", "level", "nbrs"],
                             shards=self.shards)
            # one (shard, local_id) sort, split at the shard boundaries
            order = np.lexsort((np.asarray(g["local_id"], dtype=np.int64),
                                np.asarray(g["shard"], dtype=np.int64)))
            shards, starts = np.unique(g["shard"][order], return_index=True)
            self._graph_rows_by_shard = {
                int(s): {c: g[c][rows] for c in ("local_id", "level", "nbrs")}
                for s, rows in zip(shards.tolist(),
                                   np.split(order, starts[1:]))
            }
        self._graphs: Dict[int, tuple] = {}

    # -- query path (zero Spark jobs) --

    def search_candidates(
        self, query: str, search_type: str = "bm25",
        k: int = DEFAULT_LIMIT, semantic_mode: str = "exact",
    ) -> Optional[Tuple[np.ndarray, ...]]:
        """Scatter half of the query: score THIS process's shards and
        return its candidate pool as 7 aligned arrays (ids, sort keys,
        dedup keys, parents, doc_types, parent_doc_types, scores), or
        None if nothing matched locally.  Each per-shard selection is
        already top-k-deduped, so a pool holds <= k * n_local_shards
        rows -- the scatter/gather payload a content node ships to the
        gateway.  ``search()`` is exactly merge+enrich over one
        process's pool, so rank/score parity tests on it cover this
        decomposition by construction."""
        if not 1 <= k <= MAX_LIMIT:
            raise ValueError(f"limit must be in [1, {MAX_LIMIT}]")
        if search_type not in ("bm25", "semantic", "hybrid"):
            raise ValueError(f"invalid search_type {search_type}")
        if semantic_mode not in ("exact", "lsh", "graph"):
            raise ValueError(f"invalid semantic_mode {semantic_mode}")

        terms = _query_terms(query)
        from .search import _query_fields_weights

        fields, weights = _query_fields_weights(self.cfg, search_type)
        term_payload = {
            hit[0]: (f, weights[f], hit[1])
            for f in fields if weights.get(f) for t in terms
            if (hit := self.term_dict.get((f, t))) is not None
        }
        if search_type != "semantic" and not term_payload:
            return None
        qvec = embed_text(query) if search_type in ("semantic", "hybrid") else None
        q64 = np.asarray(qvec, dtype=np.float64) if qvec is not None else None
        avgdl = {f: self.stats.get(f, (0, 1.0))[1] or 1.0 for f in self.cfg.fields}

        probes = None
        if search_type == "semantic" and semantic_mode == "lsh":
            # HNSW-analog pruning, mirroring SearchEngine.search's lsh
            # branch: restrict candidates to chunks whose build-time
            # hyperplane bucket (attributes.sem_bucket) is within
            # probe_radius hamming bits of the query's bucket.
            from .search import semantic_probes

            probes = semantic_probes(self.cfg, qvec)

        # fused numpy core (same score_shard/topk_dedup the Spark kernel
        # wraps per shard): ONE pass over the fused all-local-shards state
        from .search import score_shard, topk_dedup

        full_only = search_type == "bm25"
        if search_type == "semantic" and semantic_mode == "graph":
            # graph mode stays per-shard: HNSW graphs are built/persisted
            # per content shard (the Vespa content-node analog)
            sel_ids, sel_sort, sel_keys = [], [], []
            sel_parents, sel_dts, sel_pdts, sel_scores = [], [], [], []
            for shard, state in self.state_by_shard.items():
                cand, scores = self._graph_search(shard, state, q64, k)
                if not len(cand):
                    continue
                keep, s = topk_dedup(state, cand, scores, k)
                sel_ids.append(state.ids[keep])
                sel_sort.append(state.ids_sort[keep])
                sel_keys.append(state.dedup_keys[keep])
                sel_parents.append(state.parents[keep])
                sel_dts.append(state.doc_types[keep])
                sel_pdts.append(state.parent_doc_types[keep])
                sel_scores.append(s)
            if not sel_ids:
                return None
            return tuple(
                np.concatenate(x)
                for x in (sel_ids, sel_sort, sel_keys, sel_parents,
                          sel_dts, sel_pdts, sel_scores)
            )

        state = self.fused
        if state is None:
            return None
        cand, scores = score_shard(
            state, self.postings, term_payload, avgdl, self.cfg.k1, self.cfg.b,
            k, search_type, q64, full_only, probe_buckets=probes,
            decode_cache=self._postings_cache, cache_shard=None,
        )
        if not len(cand):
            return None
        keep, s = topk_dedup(state, cand, scores, k)
        return (
            state.ids[keep], state.ids_sort[keep], state.dedup_keys[keep],
            state.parents[keep], state.doc_types[keep],
            state.parent_doc_types[keep], s,
        )

    @staticmethod
    def merge_candidates(
        pools: List[Optional[Tuple[np.ndarray, ...]]], k: int
    ) -> List[tuple]:
        """Gather half: global merge across candidate pools (one per
        content node) -- parent dedup + deterministic tie-break (D1), as
        in SearchEngine's window.  Input order is irrelevant: the sort
        key (score, ids_sort) is a total order because ids_sort is
        unique per doc and a doc lives in exactly one shard, so any
        partition of shards over processes merges identically."""
        pools = [p for p in pools if p is not None]
        if not pools:
            return []
        ids, sort, keys, parents, dts, pdts, scores = (
            np.concatenate([p[i] for p in pools]) for i in range(7)
        )
        order = np.lexsort((sort, -scores))
        _, first = np.unique(keys[order], return_index=True)
        keep = order[np.sort(first)[:k]]
        return [
            (ids[i], parents[i], dts[i], pdts[i], float(scores[i]))
            for i in keep
        ]

    def search(self, query: str, search_type: str = "bm25",
               k: int = DEFAULT_LIMIT, semantic_mode: str = "exact") -> List[dict]:
        pool = self.search_candidates(query, search_type, k, semantic_mode)
        if pool is None:
            return []
        hits = self.merge_candidates([pool], k)
        return self._enrich(hits, _query_terms(query))

    def _graph_for(self, shard: int, state, dim: int):
        """(HnswGraph, subset positions) for a shard, cached.  Prefers the
        build-time persisted graph table; falls back to a lazy in-memory
        build over the shard's embedded chunk docs (same deterministic
        construction, so both paths answer identically).

        Graph mode never reaches streamed delta docs: they carry null
        embeddings, which compaction keeps null, so neither the persisted
        graph nor the lazy build holds them (index_build.attributes
        docstring)."""
        hit = self._graphs.get(shard)
        if hit is not None:
            return hit
        from .graph_ann import build_hnsw, graph_from_rows

        m64, has = state.embmat(dim)
        rows = self._graph_rows_by_shard.get(shard)
        if rows is not None:  # local_id-sorted at load
            sub = rows["local_id"].astype(np.int64)
            g = graph_from_rows(
                sub, rows["level"], rows["nbrs"], m=self.cfg.graph_m,
            )
        else:
            sub = np.flatnonzero(has & ~state.is_full)
            g = (
                build_hnsw(
                    m64[sub], m=self.cfg.graph_m,
                    ef_construction=self.cfg.graph_ef_construction,
                    seed=self.cfg.graph_seed,
                )
                if len(sub) else None
            )
        self._graphs[shard] = (g, sub)
        return g, sub

    def _graph_search(self, shard: int, state, q64: np.ndarray, k: int):
        """Per-shard HNSW query -> (positions, closeness) in the same
        closeness(angular) units as exact semantic mode."""
        from .graph_ann import search_hnsw

        g, sub = self._graph_for(shard, state, len(q64))
        if g is None or not len(sub):
            return np.zeros(0, dtype=np.int64), np.zeros(0)
        m64, _ = state.embmat(len(q64))
        # over-fetch beyond k so cross-shard merge + parent dedup still
        # sees enough distinct candidates (same reason the lsh path scores
        # every probed bucket)
        idx, sims = search_hnsw(
            m64[sub], g, q64, max(k * 2, k + 8),
            ef_search=max(self.cfg.graph_ef_search, k * 2),
        )
        cl = 1.0 / (1.0 + np.arccos(np.clip(sims, -1.0, 1.0)))
        return sub[idx], cl

    def _fetch_docrows(self, ids: List[str]) -> Dict[str, tuple]:
        """Fetch the <=k hit rows from the parquet doc store: shard files
        located via the driver-side xxhash twin, row groups pruned via
        cached footer statistics (_DocFetcher).  Resident RAM therefore
        never holds the corpus' content strings (serve-path scale
        requirement)."""
        from ..functions.xxhash import spark_pmod_bucket

        return self._doc_fetcher.fetch(
            ids, DOC_COLS, spark_pmod_bucket, self.cfg.num_doc_shards)

    def _enrich(self, hits: List[tuple], terms: List[str]) -> List[dict]:
        """hits: [(id, parent_id, doc_type, parent_doc_type, score)] in
        final rank order."""
        if not hits:
            return []
        docrows = self._fetch_docrows([str(h[0]) for h in hits])
        return [result_row(rank, h, docrows.get(h[0]), terms)
                for rank, h in enumerate(hits, 1)]
