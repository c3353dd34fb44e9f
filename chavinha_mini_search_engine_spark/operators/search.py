"""Query engine: BM25 / semantic / hybrid top-k (SURVEY.md §3.1, O1, K1-K2,
D1, J4-J5, P11/P16/P17).

Lifecycle (the Spark rebuild of api/main.py:348-530 + Vespa's retrieval):

1. tokenize query with the normative tokenizer; dedup terms (weakAnd);
2. look up each query term's int64 term id ``tid`` and idf in
   ``term_dict``, the only map from (field, term) to ``tid`` -- a scan
   whose ``tbucket IN (...)`` filter prunes the tbucket-sorted file's row
   groups by their statistics, collecting a handful of rows;
3. scan ``postings`` filtered by (tbucket, tid) -- Catalyst pushes both
   into the parquet scan, and each file is sorted by tbucket, so row
   groups outside the query terms' buckets are skipped;
4. ``postings.groupBy(shard).cogroup(attributes.groupBy(shard))`` ->
   ``applyInPandas`` scorer: block-max pruned term-at-a-time scoring with
   numpy decode, local per-parent dedup, per-shard top-k heap.  This is
   the document-partitioned scatter: one task per shard = one Vespa
   content-node search;
5. global merge: orderBy(score desc, doc_id asc).limit(k)
   (TakeOrderedAndProject) + window dedup by parent across shards (D1);
6. enrichment: broadcast the tiny top-k set, semi-join the docs store for
   title/url/snippet (J5), generate snippets only for returned hits (O7).

Pruning (O1): terms are processed in descending max-contribution order;
while scoring term t, a block B can be skipped when
``max(acc[B.range]) + B.max_score * w_t + sum(remaining term maxima) < theta``
where theta is the current k-th best lower bound.  The bound only uses
block metadata (first/last/max_score), so skipped blocks are never
decoded.  Lossless: tests assert pruned == exhaustive rank-for-rank.
"""

from __future__ import annotations

import math
import re
from typing import TYPE_CHECKING, Dict, List, Mapping, NamedTuple, Optional, Tuple

import numpy as np
import pyarrow as pa

from ..config import (
    BM25_CHUNK_WEIGHTS,
    DEFAULT_LIMIT,
    HYBRID_BM25_WEIGHT,
    HYBRID_SEM_WEIGHT,
    HYBRID_SIGMOID_SCALE,
    MAX_LIMIT,
    SNIPPET_FALLBACK_CHARS,
    IndexConfig,
)
from ..functions.codec import delta_decode, varbyte_decode
from ..functions.tokenizer import tokenize_py
from ..oracle.embedder import embed_text
from ..sources.tables import IndexStore

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

SCORE_SCHEMA = (
    "id string, parent_id string, doc_type string, parent_doc_type string, "
    "score double"
)

# SearchEngine's result rows, in the API's column order (``result_row``)
RESULT_ARROW_SCHEMA = pa.schema([
    ("rank", pa.int32()), ("id", pa.string()), ("url", pa.string()),
    ("title", pa.string()), ("snippet", pa.string()), ("domain", pa.string()),
    ("relevance", pa.float64()), ("doc_type", pa.string()),
])


def semantic_probes(cfg: IndexConfig, qvec: np.ndarray) -> List[int]:
    """Multi-probe bucket set for the query embedding: its own hyperplane
    sign bucket plus every bucket within cfg.sem_lsh_probe_radius hamming
    bits -- computed driver-side with the same deterministic planes the
    build wrote into attributes.sem_bucket (no Spark job).  Shared by the
    Spark serve path (SearchEngine) and the resident path
    (operators/serve.ResidentSearcher)."""
    from itertools import combinations

    from ..oracle.embedder import _hyperplanes

    planes = _hyperplanes(cfg.embedding_dim, cfg.sem_lsh_planes, cfg.sem_lsh_seed)
    q = np.asarray(qvec, dtype=np.float64)
    qsig = sum((1 << i) for i, p in enumerate(planes) if float(np.dot(p, q)) > 0)
    probes: List[int] = []
    for r in range(cfg.sem_lsh_probe_radius + 1):
        for bits in combinations(range(cfg.sem_lsh_planes), r):
            m = qsig
            for b in bits:
                m ^= 1 << b
            probes.append(m)
    return probes


def _query_fields_weights(cfg: IndexConfig, search_type: str):
    """bm25 queries the full-doc fields with the rank-profile weights
    (doc.sd:139-143); hybrid/semantic additionally query chunk_content
    (doc.sd:165-176).  Derived from cfg so a custom-schema index (e.g.
    the driver gate's content-only build) serves with its own geometry;
    the defaults reproduce the reference profiles exactly."""
    fields = [f for f in cfg.fields if search_type != "bm25" or f != "chunk_content"]
    weights = dict(cfg.field_weights)
    if search_type != "bm25" and "chunk_content" in cfg.fields:
        weights.setdefault(
            "chunk_content", BM25_CHUNK_WEIGHTS["chunk_content"]
        )
    return fields, weights


def _query_terms(query: str) -> List[str]:
    seen, out = set(), []
    for t in tokenize_py(query):
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


# ---------------- scoring core (numpy, shared by both serve paths) -------
#
# The builders below take a column mapping, {column name: array}: the
# Spark kernel passes each cogroup's pandas frame, the resident path
# (operators/serve.py) the numpy columns of ``tables.read_columns``, built
# ONCE at load time.  They touch the mapping only through
# ``np.asarray(cols[c])``, ``c in cols`` and ``for c in cols``, so both
# inputs run one code path, and everything below it is numpy-only.


def _isnull(a: np.ndarray) -> np.ndarray:
    """Null mask of a column: NaN in a float column, None in an object
    column (both inputs convert Arrow nulls so); an int column has no
    nulls."""
    if a.dtype.kind == "f":
        return np.isnan(a)
    if a.dtype.kind == "O":
        return np.fromiter((v is None for v in a), dtype=bool, count=len(a))
    return np.zeros(len(a), dtype=bool)


class ShardState:
    """Per-shard attribute arrays, sorted by local_id (dense positions)."""

    __slots__ = (
        "n_docs", "ids", "ids_sort", "parents", "doc_types",
        "parent_doc_types", "dedup_keys", "lens", "is_full", "sem_bucket",
        "ids_rank", "key_codes",
        "_emb_vals", "_emb64", "_has_emb",
    )

    def embmat(self, dim: int):
        """(n, dim) float64 embedding matrix + has-embedding mask, built
        lazily and cached (the resident path reuses it across queries).
        Docs without a stored embedding of the right dim get a zero row and
        has=False -- closeness 0.0, the normative choice matching
        oracle/scorer.py."""
        if self._emb64 is None or self._emb64.shape[1] != dim:
            vals = self._emb_vals
            has = np.array(
                [v is not None and len(v) == dim for v in vals], dtype=bool
            )
            m = np.zeros((len(vals), dim), dtype=np.float64)
            ok = np.flatnonzero(has)
            if ok.size:
                m[ok] = np.stack([np.asarray(vals[i], dtype=np.float64) for i in ok])
            self._emb64, self._has_emb = m, has
        return self._emb64, self._has_emb


def _state_from_order(cols: Mapping, order: np.ndarray,
                      n_docs: int) -> ShardState:
    st = ShardState()
    st.n_docs = n_docs
    st.ids = np.asarray(cols["id"])[order]
    st.ids_sort = st.ids.astype(str)          # lexsort-able tie-break key
    st.parents = np.asarray(cols["parent_id"])[order]
    st.doc_types = np.asarray(cols["doc_type"])[order]
    st.parent_doc_types = np.asarray(cols["parent_doc_type"])[order]
    st.dedup_keys = np.where(
        _isnull(st.parents), st.ids, st.parents
    ).astype(str)
    st.lens = {
        c[4:]: np.asarray(cols[c], dtype=np.float64)[order]
        for c in cols if c.startswith("len_")
    }
    st.is_full = st.doc_types == "full_doc"
    if "sem_bucket" in cols:
        sb = np.asarray(cols["sem_bucket"])[order]
        st.sem_bucket = np.where(_isnull(sb), -1, sb).astype(np.int64)
    else:
        st.sem_bucket = np.full(len(st.ids), -1, dtype=np.int64)
    st._emb_vals = (
        np.asarray(cols["embedding"])[order]
        if "embedding" in cols else np.full(len(st.ids), None)
    )
    st._emb64 = None
    # integer stand-ins for the per-query sorts (query-independent, built
    # once): ids_rank ranks positions in ids_sort order so topk_dedup can
    # lexsort ints instead of strings; key_codes factorizes dedup_keys so
    # first-per-key grouping is an int unique.  Hybrid's two-phase loop
    # calls topk_dedup per chunk over a growing candidate set -- string
    # sorts there dominated the degenerate-query latency.
    n = len(st.ids)
    st.ids_rank = np.empty(n, dtype=np.int64)
    st.ids_rank[np.argsort(st.ids_sort, kind="stable")] = np.arange(n)
    _, st.key_codes = np.unique(st.dedup_keys, return_inverse=True)
    return st


def shard_state(cols: Mapping) -> ShardState:
    """One shard's attribute columns -> ShardState."""
    lid = np.asarray(cols["local_id"], dtype=np.int64)
    order = np.argsort(lid)
    return _state_from_order(cols, order, int(lid[order[-1]]) + 1)


def fused_state(cols: Mapping) -> Tuple[ShardState, Dict[int, int]]:
    """Attribute columns of MANY shards -> one global ShardState whose
    position space is the per-shard dense local-id spaces laid out
    back-to-back in ascending shard order, plus {shard: offset}.

    The resident serve path scores all local shards in ONE numpy pass
    over this state (posting block ranges are globalized with the same
    offsets at load, see serve.ResidentSearcher) -- per-query cost no
    longer pays ~15 small-array numpy calls per term PER SHARD.  Validity
    rests on the same density invariant score_shard asserts per shard:
    local_id is dense 0..n_s-1 within each shard, so global position =
    offset[shard] + local_id indexes exactly this (shard, local_id)-
    sorted layout."""
    shard = np.asarray(cols["shard"], dtype=np.int64)
    lid = np.asarray(cols["local_id"], dtype=np.int64)
    order = np.lexsort((lid, shard))
    st = _state_from_order(cols, order, len(order))
    offsets: Dict[int, int] = {}
    us, starts = np.unique(shard[order], return_index=True)
    ends = np.concatenate((starts[1:], [len(order)]))
    for s, a, b in zip(us, starts, ends):
        offsets[int(s)] = int(a)
        # density check (the per-shard twin of score_shard's assert)
        assert lid[order[b - 1]] == b - a - 1, (
            f"shard {s}: local_id space not dense ({b - a} rows, "
            f"max local_id {lid[order[b - 1]]})"
        )
    return st, offsets


def state_view(st: ShardState, start: int, stop: int) -> ShardState:
    """Zero-copy per-shard view of a fused state (numpy slices share the
    underlying buffers).  Used for the per-shard paths (graph mode,
    shard-subset introspection); embmat is built lazily per view."""
    v = ShardState()
    v.n_docs = stop - start
    v.ids = st.ids[start:stop]
    v.ids_sort = st.ids_sort[start:stop]
    v.parents = st.parents[start:stop]
    v.doc_types = st.doc_types[start:stop]
    v.parent_doc_types = st.parent_doc_types[start:stop]
    v.dedup_keys = st.dedup_keys[start:stop]
    v.lens = {f: a[start:stop] for f, a in st.lens.items()}
    v.is_full = st.is_full[start:stop]
    v.sem_bucket = st.sem_bucket[start:stop]
    # global ranks/codes restricted to a slice keep their relative order /
    # grouping, which is all topk_dedup uses
    v.ids_rank = st.ids_rank[start:stop]
    v.key_codes = st.key_codes[start:stop]
    v._emb_vals = st._emb_vals[start:stop]
    v._emb64 = None
    return v


class PostingLists(NamedTuple):
    """Posting blocks in CSR form: ``cols`` (firsts, lasts, maxs, ns,
    doc_bytes, tf_bytes, and with shard offsets the per-block base offsets
    boffs) sorted by (tid, first_local); the blocks of ``tids[i]`` are rows
    ``starts[i]:starts[i + 1]``, and ``maxs[i]`` is their largest
    max_score."""

    tids: np.ndarray
    starts: np.ndarray
    cols: tuple
    maxs: np.ndarray

    def select(self, tids) -> Dict[int, Tuple[int, int, float]]:
        """{tid: (first row, end row, largest max_score)} for those of
        ``tids`` that have blocks; ``cols`` sliced by the rows are the
        list's blocks."""
        if not len(self.tids):
            return {}
        want = np.fromiter(tids, dtype=np.int64)
        i = np.minimum(np.searchsorted(self.tids, want), len(self.tids) - 1)
        return {
            t: (lo, hi, mx)
            for t, lo, hi, mx, hit in zip(
                want.tolist(), self.starts[i].tolist(),
                self.starts[i + 1].tolist(), self.maxs[i].tolist(),
                (self.tids[i] == want).tolist())
            if hit
        }


def post_groups(post: Mapping, shard_offsets: Optional[Dict[int, int]] = None
                ) -> PostingLists:
    """Posting-block columns -> PostingLists: one lexsort by (tid,
    first_local) and one ``np.unique`` into the per-tid start offsets
    (and one ``reduceat`` into the per-tid largest max_score).
    Within a tid the block ranges are disjoint ascending intervals (base
    blocks are consecutive id chunks; delta-segment ids are shifted past
    every earlier segment).  ``shard_offsets`` ({shard: offset}, see
    fused_state) keeps only those shards, globalizes block ranges by their
    shard's offset and adds a 7th column, the per-block base offset of the
    decode (score_shard ``boffs``)."""
    tid = np.asarray(post["tid"], dtype=np.int64)
    cols = [np.asarray(post[c], dtype=dt) for c, dt in (
        ("first_local", np.int64), ("last_local", np.int64),
        ("max_score", np.float64), ("n", np.int64),
        ("doc_bytes", None), ("tf_bytes", None))]
    if shard_offsets is not None:
        keys = np.array(sorted(shard_offsets), dtype=np.int64)
        shard = np.asarray(post["shard"], dtype=np.int64)
        local = np.flatnonzero(np.isin(shard, keys))
        boff = np.array([shard_offsets[s] for s in keys.tolist()],
                        dtype=np.int64)[np.searchsorted(keys, shard[local])]
        cols = [c[local] for c in cols] + [boff]
        cols[0] += boff
        cols[1] += boff
        tid = tid[local]
    order = np.lexsort((cols[0], tid))
    cols = tuple(c[order] for c in cols)
    tids, starts = np.unique(tid[order], return_index=True)
    maxs = np.maximum.reduceat(cols[2], starts) if len(starts) else cols[2]
    return PostingLists(tids, np.append(starts, len(order)), cols, maxs)


class PostingsCache:
    """Bounded LRU of fully-decoded posting lists for the resident serve
    path (the Lucene/Vespa hot-postings analog).

    The per-posting BM25 contribution ``idf * tf / (tf + k1*(1-b+b*dl/
    avgdl))`` is QUERY-INDEPENDENT per (shard, tid) -- idf, tf and
    dl are build-time constants -- so a hit replaces the varbyte decode +
    arithmetic with one fancy-indexed accumulate of the cached (positions,
    contribution) pair (the query-dependent field weight applies at add
    time).  Sound with block-max pruning: a cached term adds its EXACT
    contribution for every posting (a superset of what pruning would have
    decoded), which only makes accumulators exact for more docs; upper
    bounds stay upper bounds and the top-k is unchanged (the pruned ==
    exhaustive parity the tests assert).  Entries are only written when a
    term decoded ALL its blocks (a partially-pruned decode is not the full
    list).  Bounded by total cached postings (~16 B/posting)."""

    def __init__(self, max_postings: int = 2_000_000):
        from collections import OrderedDict

        self._d: "OrderedDict[tuple, tuple]" = OrderedDict()
        self._max = max_postings
        self._total = 0

    def get(self, key):
        hit = self._d.get(key)
        if hit is not None:
            self._d.move_to_end(key)
        return hit

    def put(self, key, bl_ids: np.ndarray, contrib: np.ndarray) -> None:
        if key in self._d:
            return
        self._d[key] = (bl_ids, contrib)
        self._total += len(bl_ids)
        while self._total > self._max and len(self._d) > 1:
            _, (old_ids, _c) = self._d.popitem(last=False)
            self._total -= len(old_ids)


def _closeness_at(state: ShardState, q64: np.ndarray, idxs: np.ndarray):
    """Vespa closeness(angular) = 1/(1+arccos(cos)) at positions ``idxs``;
    no-embedding docs score 0.0 (see ShardState.embmat)."""
    if not len(idxs):
        return np.zeros(0), np.zeros(0, dtype=bool)
    m, has = state.embmat(len(q64))
    sims = np.clip(m[idxs] @ q64, -1.0, 1.0)
    cl = 1.0 / (1.0 + np.arccos(sims))
    h = has[idxs]
    cl[~h] = 0.0
    return cl, h


def score_shard(
    state: ShardState,
    lists: PostingLists,
    term_payload: Dict[int, Tuple[str, float, float]],
    avgdl: Dict[str, float],
    k1: float,
    b: float,
    k: int,
    mode: str,
    q64: Optional[np.ndarray],
    full_only: bool,
    probe_buckets: Optional[list] = None,
    decode_cache: Optional[PostingsCache] = None,
    cache_shard=None,
) -> Tuple[np.ndarray, np.ndarray]:
    """Scores one shard; returns (candidate positions, scores), un-deduped.

    ``term_payload`` maps a query term's ``tid`` to (field, weight, idf);
    its blocks are sliced from ``lists`` only when they are decoded.  Terms
    score in descending max-contribution order, ties in payload order.

    Block-max pruning evaluates the skip test for ALL blocks of a term at
    once (np.maximum.reduceat over the accumulator -- within one term the
    block ranges are disjoint, so skip decisions are traversal-order
    independent), then decodes the SURVIVING blocks in one varbyte/delta
    pass over their concatenated payloads (the codec is self-delimiting; a
    per-block cumsum correction re-bases each block's ids).  One
    fancy-indexed accumulate per term -- safe because a doc appears in
    exactly one block of a term's posting list.

    Hybrid pruning (doc.sd:165-176 blend): the blended score is not
    monotone in the BM25 accumulator alone, but sigmoid is monotone and
    closeness <= 1.0, so ``W_bm25*sigmoid(ub_bm25/s) + W_sem*1.0 < theta``
    is a sound skip test; theta comes from exact lower bounds (sigmoid of
    current acc + EXACT closeness) of the current top-k-by-acc candidates.
    Lossless by the standard WAND argument (a skipped block's docs are
    provably below the k-th best final score; docs that reach the top-k
    never had a block skipped, so their scores are exact); pruned ==
    exhaustive is asserted for both modes in tests.
    """
    n_docs = state.n_docs
    acc = np.zeros(n_docs, dtype=np.float64)
    touched = np.zeros(n_docs, dtype=bool)
    sig_w, cl_w = HYBRID_BM25_WEIGHT, HYBRID_SEM_WEIGHT

    # per-doc closeness cache, shared by the in-loop hybrid theta updates
    # and the two-phase exit: exact closeness is computed at most once per
    # doc per query
    cl_cache = None

    def _closeness_cached(idxs_):
        nonlocal cl_cache
        if cl_cache is None:
            cl_cache = np.full(n_docs, np.nan)
        miss = idxs_[np.isnan(cl_cache[idxs_])]
        if miss.size:
            cl_cache[miss] = _closeness_at(state, q64, miss)[0]
        return cl_cache[idxs_]

    rows = lists.select(term_payload) if mode in ("bm25", "hybrid") else {}
    entries = [
        (tid, field, w, idf, rows[tid][2] * w, *rows[tid][:2])
        for tid, (field, w, idf) in term_payload.items() if tid in rows
    ]
    if entries:
        assert len(state.ids) == n_docs, "attributes must be dense per shard"
        entries.sort(key=lambda e: -e[4])
        suffix = np.cumsum([e[4] for e in entries][::-1])[::-1]
        theta = -math.inf
        # hybrid's skip test can only fire once theta exceeds the
        # closeness ceiling contribution (every block ub >= cl_w by
        # construction), so below that floor the bound evaluation is pure
        # overhead and is skipped
        prune_floor = cl_w if mode == "hybrid" else -math.inf
        for i, (tid, field, w, idf, mx, lo, hi) in enumerate(entries):
            rem_after = float(suffix[i + 1]) if i + 1 < len(entries) else 0.0
            ckey = (cache_shard, tid) if decode_cache is not None else None
            hit = decode_cache.get(ckey) if ckey is not None else None
            if hit is not None:
                bl_ids, contrib = hit
                # exhaustive add of the exact cached contributions -- a
                # superset of the pruned decode, identical top-k (see
                # PostingsCache docstring)
                acc[bl_ids] += w * contrib
                touched[bl_ids] = True
            else:
                firsts, lasts, maxs, ns, docb, tfb, *rest = [
                    c[lo:hi] for c in lists.cols]
                boffs = rest[0] if rest else None
                pruned = False
                if theta > prune_floor:
                    idx = np.empty(2 * len(firsts), dtype=np.int64)
                    idx[0::2] = firsts
                    idx[1::2] = lasts + 1
                    if idx[-1] >= n_docs:
                        idx = idx[:-1]  # final segment runs to the end
                    seg_max = np.maximum.reduceat(acc, idx)[0::2]
                    ub = seg_max + maxs * w + rem_after
                    if mode == "hybrid":
                        ub = sig_w / (1.0 + np.exp(-ub / HYBRID_SIGMOID_SCALE)) + cl_w
                    sel = np.flatnonzero(ub >= theta)
                    if sel.size == 0:
                        continue
                    if sel.size < len(ns):
                        pruned = True
                        ns = ns[sel]
                        docb, tfb = docb[sel], tfb[sel]
                        if boffs is not None:
                            boffs = boffs[sel]
                adl = avgdl[field]
                dl = state.lens[field]
                total = int(ns.sum())
                gaps = varbyte_decode(b"".join(docb), total)
                ids_all = np.cumsum(gaps, dtype=np.uint64)
                ends = np.cumsum(ns)
                offs = np.zeros(len(ns), dtype=np.uint64)
                offs[1:] = ids_all[ends[:-1] - 1]
                bl_ids = (ids_all - np.repeat(offs, ns)).astype(np.int64)
                if boffs is not None:
                    # fused serve layout: block payloads decode to SHARD-
                    # local ids; the per-block base offset globalizes them
                    bl_ids += np.repeat(boffs, ns)
                tfs = varbyte_decode(b"".join(tfb), total).astype(np.float64)
                denom = tfs + k1 * (1.0 - b + b * dl[bl_ids] / adl)
                contrib = idf * tfs / denom
                # plain fancy += (not add.at): ids are unique within a term
                acc[bl_ids] += w * contrib
                touched[bl_ids] = True
                if ckey is not None and not pruned:
                    decode_cache.put(ckey, bl_ids, contrib)
            # theta = k-th best lower bound among eligible docs
            if mode == "bm25" and touched.any():
                cand = acc[touched & state.is_full] if full_only else acc[touched]
                if cand.size >= k:
                    theta = float(np.partition(cand, -k)[-k])
            elif mode == "hybrid" and touched.any():
                t_idx = np.flatnonzero(touched)
                if t_idx.size >= k:
                    top = t_idx[np.argpartition(acc[t_idx], -k)[-k:]]
                    lb = (
                        sig_w / (1.0 + np.exp(-acc[top] / HYBRID_SIGMOID_SCALE))
                        + cl_w * _closeness_cached(top)
                    )
                    theta = max(theta, float(lb.min()))

    if mode == "bm25":
        idxs = np.flatnonzero(touched & state.is_full if full_only else touched)
        return idxs, acc[idxs]
    if mode == "hybrid":
        # Two-phase blend (the Vespa second-phase analog, doc.sd:139-176):
        # phase 1 ranks every match by the cheap sound upper bound
        # sig_w*sigmoid(acc) + cl_w*[has_embedding] (closeness <= 1, and
        # exactly 0 without an embedding); phase 2 exact-blends candidates
        # in bound order, extending until the next candidate's bound is
        # strictly below the k-th best exact DEDUPED score (tau from
        # topk_dedup, so post-dedup top-k stays exact; ties at tau are
        # still evaluated).  Lossless by the WAND argument: every skipped
        # doc's final score is provably < tau.  Degenerate match-everything
        # queries stop after a few chunks instead of one full-shard
        # closeness pass.
        idxs = np.flatnonzero(touched)
        sigc = sig_w / (1.0 + np.exp(-acc[idxs] / HYBRID_SIGMOID_SCALE))
        _, has = state.embmat(len(q64))
        ub = sigc + cl_w * has[idxs]
        chunk = max(4 * k, 256)
        if len(idxs) <= chunk:
            return idxs, sigc + cl_w * _closeness_cached(idxs)
        order = np.argsort(-ub, kind="stable")
        eval_idx, eval_sc = [], []
        tau = -math.inf
        pos, n = 0, len(order)
        while pos < n and not ub[order[pos]] < tau:
            take = order[pos:pos + chunk]
            sub = idxs[take]
            eval_idx.append(sub)
            eval_sc.append(sigc[take] + cl_w * _closeness_cached(sub))
            pos += len(take)
            # geometric chunk growth bounds the loop at O(log n)
            # iterations: the per-iteration tau refresh re-sorts the WHOLE
            # evaluated set, so fixed-size chunks make a slowly-converging
            # tau quadratic-ish.  A larger chunk can only evaluate MORE
            # candidates before stopping; extra candidates carry exact
            # scores below the final tau, so the downstream top-k (and its
            # tie-breaks -- ties at tau are evaluated under any chunking)
            # is invariant.
            chunk *= 2
            if pos < n:
                kept, ks = topk_dedup(
                    state, np.concatenate(eval_idx), np.concatenate(eval_sc), k
                )
                if len(ks) >= k:
                    tau = float(ks[-1])
        return np.concatenate(eval_idx), np.concatenate(eval_sc)
    # semantic: chunk docs WITH a stored embedding (scorer.py:144); lsh
    # mode additionally restricts to the query's probed sem_buckets
    cand = ~state.is_full
    if probe_buckets is not None:
        cand &= np.isin(state.sem_bucket, probe_buckets)
    idxs = np.flatnonzero(cand)
    scores, has = _closeness_at(state, q64, idxs)
    return idxs[has], scores[has]


def topk_dedup(state: ShardState, cand: np.ndarray, scores: np.ndarray,
               k: int) -> Tuple[np.ndarray, np.ndarray]:
    """Best (score desc, id asc) per dedup key (parent_id else id), top k;
    returns (positions, scores) ordered by (score desc, id asc).

    Sorts on the precomputed integer ids_rank / key_codes (strict monotone
    stand-ins for the id strings / key strings) -- int sorts, not string
    sorts, in the per-query path."""
    order = np.lexsort((state.ids_rank[cand], -scores))
    c, s = cand[order], scores[order]
    _, first = np.unique(state.key_codes[c], return_index=True)
    keep = np.sort(first)[:k]
    return c[keep], s[keep]


def _bm25_shard_kernel(
    term_payload: Dict[int, Tuple[str, float, float]],
    avgdl: Dict[str, float],
    k1: float,
    b: float,
    k: int,
    mode: str,
    query_vec: Optional[np.ndarray],
    full_only: bool,
):
    """Builds the cogroup kernel -- a thin pandas wrapper over the numpy
    core (shard_state / post_groups / score_shard / topk_dedup above).  All
    query state (tid -> (field, field weight, idf), per-field avgdl, k1/b,
    query embedding) is captured in the closure, so cloudpickle ships it to the
    Python workers with the UDF -- the Spark-idiomatic "broadcast the
    query" (SURVEY.md J4).

    Blocks carry (delta docids, varbyte tf); the core recomputes
    score = idf * tf / (tf + k1*(1-b+b*dl/avgdl)) in float64 from tf +
    attribute lengths so results match the oracle bit-for-bit; the
    build-time ``max_score`` (same float64 expression) is a valid per-block
    upper bound for pruning (see score_shard for the pruning semantics).
    """
    q64 = (
        np.asarray(query_vec, dtype=np.float64) if query_vec is not None else None
    )

    def kernel(post_pdf: pd.DataFrame, attr_pdf: pd.DataFrame) -> pd.DataFrame:
        import pandas as pd

        empty = pd.DataFrame(
            {c: [] for c in ("id", "parent_id", "doc_type", "parent_doc_type", "score")}
        )
        if len(attr_pdf) == 0:
            return empty
        state = shard_state(attr_pdf)
        cand, scores = score_shard(
            state, post_groups(post_pdf), term_payload, avgdl, k1, b, k,
            mode, q64, full_only,
        )
        if len(cand) == 0:
            return empty
        keep, s = topk_dedup(state, cand, scores, k)
        return pd.DataFrame(
            {
                "id": state.ids[keep],
                "parent_id": state.parents[keep],
                "doc_type": state.doc_types[keep],
                "parent_doc_type": state.parent_doc_types[keep],
                "score": s,
            }
        )

    return kernel


class SearchEngine:
    """Serve-side facade over an IndexStore (api/main.py /api/search parity)."""

    def __init__(self, spark: SparkSession, store: IndexStore,
                 cfg: Optional[IndexConfig] = None, cache: bool = True):
        self.spark = spark
        self.store = store
        self.cfg = cfg or store.saved_config()
        self.stats = store.corpus_stats()
        # base + streamed segments (IndexStore.segment_dirs)
        self._postings = store.read_parts(spark, "postings")
        self._attrs = store.read_parts(spark, "attributes")
        self._unified = store.read_parts(spark, "unified")
        self._term_dict = store.read(spark, "term_dict")
        if cache:
            # serve-path residency: the Vespa-content-node analog of
            # memory-mapped attributes + hot posting pages.  At cluster
            # scale this is executor storage memory (MEMORY_AND_DISK).
            self._attrs = self._attrs.cache()
            self._postings = self._postings.cache()
            self._term_dict = self._term_dict.cache()

    # --- query compilation ---
    def _term_info(self, terms: List[str], fields: List[str]) -> Dict:
        from pyspark.sql import functions as F

        if not terms:
            return {}
        td = self._term_dict
        buckets = self._tbuckets(terms)
        rows = (
            td.filter(F.col("tbucket").isin(buckets))
            .filter(F.col("term").isin(terms) & F.col("field").isin(fields))
            .collect()
        )
        return {(r["field"], r["term"]): (int(r["tid"]), float(r["idf"]))
                for r in rows}

    def _semantic_probes(self, qvec: np.ndarray) -> List[int]:
        return semantic_probes(self.cfg, qvec)

    def _tbuckets(self, terms: List[str]) -> List[int]:
        """tbucket per term, computed driver-side with the pure-Python
        XXH64 twin of the JVM expression (bit-identical, tests/test_xxhash
        .py) -- no Spark job for query compilation."""
        from ..functions.xxhash import spark_pmod_bucket

        return sorted({spark_pmod_bucket(t, self.cfg.term_buckets) for t in terms})

    def search(self, query: str, search_type: str = "bm25",
               k: int = DEFAULT_LIMIT, performance_mode: str = "ultra",
               semantic_mode: str = "exact") -> DataFrame:
        """Returns DataFrame(rank, id, url, title, snippet, domain,
        relevance, doc_type) -- the SearchResult projection
        (api/main.py:509-517).

        ``performance_mode`` mirrors api/main.py:352-353,552: "ultra"
        selects the ``*_ultra`` rank profiles.  Those profiles share their
        first-phase scoring expression with the normal ones (doc.sd:214-256
        -- only termwise-limit / num-threads-per-search tuning differs), so
        the mode is accepted for parameter parity and does not change
        ranking here; Spark's analog of that tuning is executor/task
        parallelism, owned by the session config."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if not 1 <= k <= MAX_LIMIT:
            raise ValueError(f"limit must be in [1, {MAX_LIMIT}]")
        if search_type not in ("bm25", "semantic", "hybrid"):
            raise ValueError(f"invalid search_type {search_type}")
        if performance_mode not in ("normal", "ultra"):
            raise ValueError(f"invalid performance_mode {performance_mode}")
        if semantic_mode not in ("exact", "lsh"):
            raise ValueError(f"invalid semantic_mode {semantic_mode}")

        terms = _query_terms(query)
        fields, weights = _query_fields_weights(self.cfg, search_type)

        info = self._term_info(terms, fields) if search_type != "semantic" else {}
        if search_type != "semantic" and not info:
            return self._result_frame([])

        qvec = embed_text(query) if search_type in ("semantic", "hybrid") else None

        # (field, term) order: the order score_shard breaks ties in
        term_payload = {
            tid: (f, weights[f], idf)
            for (f, _t), (tid, idf) in sorted(info.items())
            if weights.get(f)
        }
        avgdl = {f: self.stats.get(f, (0, 1.0))[1] or 1.0 for f in self.cfg.fields}

        kernel = _bm25_shard_kernel(
            term_payload, avgdl, self.cfg.k1, self.cfg.b, k, search_type,
            qvec, full_only=(search_type == "bm25"),
        )

        attr_cols = ["shard", "local_id", "id", "doc_type", "parent_id",
                     "parent_doc_type"] + [f"len_{f}" for f in self.cfg.fields]
        if search_type in ("semantic", "hybrid"):
            attr_cols.append("embedding")
        attrs = self._attrs
        if search_type == "semantic":
            attrs = attrs.filter(F.col("doc_type") == "chunk")
            if semantic_mode == "lsh":
                # HNSW-analog pruning: restrict candidates to chunks whose
                # build-time hyperplane bucket is within probe_radius
                # hamming bits of the query's bucket (multi-probe).
                # Approximate by construction; recall is asserted in
                # tests/test_pipeline_ops.py.
                attrs = attrs.filter(
                    F.col("sem_bucket").isin(self._semantic_probes(qvec))
                )
        attrs = attrs.select(*attr_cols)

        if search_type == "semantic":
            # no posting involvement: empty left side of the cogroup (an
            # empty relation, so no Python RDD is planned for it)
            post = self._postings.limit(0)
        else:
            buckets = self._tbuckets(terms)
            post = self._postings.filter(
                F.col("tbucket").isin(buckets)
                & F.col("tid").isin([tid for tid, _idf in info.values()])
            )

        scored = (
            post.groupBy("shard")
            .cogroup(attrs.groupBy("shard"))
            .applyInPandas(lambda pl, pr: kernel(pl, pr), schema=SCORE_SCHEMA)
        )

        # global merge: D1 dedup across shards + deterministic tie-break
        dedup_key = F.coalesce(F.col("parent_id"), F.col("id"))
        w = Window.partitionBy(dedup_key).orderBy(F.desc("score"), F.asc("id"))
        topk = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(k)
        )
        return self._enrich(topk, terms, search_type, k)

    def _enrich_scan(self, hit_ids: List[str]) -> DataFrame:
        """Fetch the <=k hit rows from the doc store.  unified is
        partitioned by shard = pmod(xxhash64(id), num_doc_shards), which is
        derivable driver-side from the hit ids (bit-identical python twin,
        tests/test_xxhash.py) -- so the fetch prunes to the hits' shard
        partitions (PartitionFilters, asserted in tests/test_plans.py)
        instead of scanning the widest table."""
        from pyspark.sql import functions as F

        from ..functions.xxhash import spark_pmod_bucket

        hit_shards = sorted(
            {spark_pmod_bucket(i, self.cfg.num_doc_shards) for i in hit_ids}
        )
        return (
            self._unified.filter(
                F.col("shard").isin(hit_shards) & F.col("id").isin(hit_ids)
            )
            .select("id", "url", "domain", "title", "content", "chunk_content")
        )

    # --- enrichment (J5, P11, P16, P17, O7) ---
    def _enrich(self, topk: DataFrame, terms: List[str], search_type: str,
                k: int) -> DataFrame:
        hits = topk.collect()  # <= k rows by construction
        if not hits:
            return self._result_frame([])
        hit_ids = [r["id"] for r in hits]
        rows = self._enrich_scan(hit_ids).collect()
        docrows = {r["id"]: tuple(r)[1:] for r in rows}
        order = sorted(hits, key=lambda r: (-r["score"], r["id"]))
        return self._result_frame([
            result_row(rank, (h["id"], h["parent_id"], h["doc_type"],
                              h["parent_doc_type"], h["score"]),
                       docrows.get(h["id"]), terms)
            for rank, h in enumerate(order, 1)
        ])

    def _result_frame(self, rows: List[dict]) -> DataFrame:
        """The <=k ``result_row`` dicts as an Arrow local relation (a
        LocalTableScan): no Python RDD, so showing or collecting the
        result runs no job."""
        return self.spark.createDataFrame(
            pa.Table.from_pylist(rows, schema=RESULT_ARROW_SCHEMA))


def result_row(rank: int, hit: tuple, docrow: Optional[tuple],
               terms: List[str]) -> dict:
    """One API result row, in the output column order, from a ranked hit
    (id, parent_id, doc_type, parent_doc_type, score) and its doc-store
    row (url, domain, title, content, chunk_content), or None when the
    doc store holds none.  A chunk hit answers for its parent document
    with the chunk text as snippet; a full doc gets a dynamic snippet."""
    hid, parent_id, doc_type, parent_doc_type, score = hit
    url, domain, title, content, chunk_content = docrow or ("",) * 5
    if doc_type == "chunk":
        snippet, rid = chunk_content or "", parent_id or hid
    else:
        snippet, rid = _dynamic_snippet(content or "", terms), hid
    return {
        "rank": rank, "id": rid, "url": url, "title": title or "Untitled",
        "snippet": clean_snippet(snippet), "domain": domain,
        "relevance": float(score),
        "doc_type": parent_doc_type or doc_type or "general",
    }


def _dynamic_snippet(content: str, terms: List[str], width: int = 250) -> str:
    """Normative dynamic snippet, modeling Vespa's ``dynamic`` summary
    (doc.sd:112-123): among the windows centered on each query-term
    occurrence, pick the BEST-scoring one -- most distinct query terms
    covered, then most total occurrences, then earliest (deterministic; a
    single-term match degenerates to the first-occurrence window).
    Word-aligned start, <sep/>-style ellipses; Vespa's <hi> highlights are
    omitted because the reference strips them anyway (api/main.py:164-170).
    Falls back to content[:250] + '...' (api/main.py:499-503)."""
    if not content:
        return ""
    low = content.lower()
    # all occurrence positions of all query terms, capped PER TERM (a
    # global cap filled term-major would let a repetitive first term
    # starve later terms of candidates, biasing best-window selection
    # toward single-term windows on degenerate content); 1000 total is
    # plenty for a 250-char window
    occ: List[Tuple[int, int]] = []
    per_term = max(1, 1000 // max(1, len(terms)))
    for ti, t in enumerate(terms):
        p, seen = low.find(t), 0
        while p >= 0 and seen < per_term:
            occ.append((p, ti))
            seen += 1
            p = low.find(t, p + 1)
    if not occ:
        return content[:SNIPPET_FALLBACK_CHARS] + "..." if len(content) > SNIPPET_FALLBACK_CHARS else content
    occ.sort()
    positions = [p for p, _ in occ]
    import bisect

    pos, best_key = occ[0][0], None
    for p, _ti in occ:
        w_start = max(0, p - width // 2)
        lo = bisect.bisect_left(positions, w_start)
        hi = bisect.bisect_right(positions, w_start + width - 1)
        inside = occ[lo:hi]
        key = (len({ti for _, ti in inside}), len(inside), -p)
        if best_key is None or key > best_key:
            best_key, pos = key, p
    start = max(0, pos - width // 2)
    end = min(len(content), start + width)
    if start > 0:
        sp = content.find(" ", start)
        start = sp + 1 if 0 <= sp < end else start
    snippet = content[start:end]
    prefix = "<sep/>" if start > 0 else ""
    suffix = "<sep/>" if end < len(content) else ""
    return f"{prefix}{snippet}{suffix}"


_HI_RE1 = re.compile(r"</?hi>")
_SEP_RE = re.compile(r"<sep/>")


def clean_snippet(snippet: str) -> str:
    """api/main.py:164-170: strip <hi> tags, <sep/> -> ' ... '."""
    if not snippet:
        return ""
    s = _HI_RE1.sub("", snippet)
    s = _SEP_RE.sub(" ... ", s)
    return s.strip()
