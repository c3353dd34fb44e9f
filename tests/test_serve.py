"""Resident serve path (operators/serve.py): rank/score parity with the
Spark SearchEngine, since both share _bm25_shard_kernel -- plus the latency
property the module exists for (no Spark jobs per query)."""

import os
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst
from pyspark.sql import functions as F

from chavinha_mini_search_engine_spark.fixtures.queries import PERF_QUERIES
from chavinha_mini_search_engine_spark.operators.search import SearchEngine
from chavinha_mini_search_engine_spark.operators.serve import ResidentSearcher

from tests.parity_cfg import CFG  # noqa: E402


@pytest.fixture(scope="module")
def resident(built):
    return ResidentSearcher(built, CFG)


@pytest.fixture(scope="module")
def engine(spark, built):
    return SearchEngine(spark, built, CFG)


def norm(rows):
    return sorted(
        ((r["id"], round(r["relevance"], 9)) for r in rows),
        key=lambda t: (-t[1], t[0]),
    )


@pytest.mark.parametrize("st", ["bm25", "hybrid", "semantic"])
def test_resident_matches_spark_engine(resident, engine, st):
    for q in PERF_QUERIES[:5]:
        got = norm(resident.search(q, st, 10))
        exp = norm(r.asDict() for r in engine.search(q, st, 10).collect())
        assert [g[0] for g in got] == [e[0] for e in exp], (st, q, got, exp)
        for (gid, gs), (_, es) in zip(got, exp):
            assert abs(gs - es) < 1e-8, (st, q, gid, gs, es)


def test_resident_semantic_lsh_matches_engine(resident, engine):
    """semantic_mode="lsh" on the resident path must pick exactly the same
    probed-bucket candidates (and scores) as the Spark engine's lsh branch
    -- both derive probes from search.semantic_probes over the build-time
    sem_bucket attribute."""
    for q in PERF_QUERIES[:3]:
        got = norm(resident.search(q, "semantic", 10, semantic_mode="lsh"))
        exp = norm(
            r.asDict()
            for r in engine.search(q, "semantic", 10, semantic_mode="lsh").collect()
        )
        assert [g[0] for g in got] == [e[0] for e in exp], (q, got, exp)
        for (gid, gs), (_, es) in zip(got, exp):
            assert abs(gs - es) < 1e-8, (q, gid, gs, es)
    with pytest.raises(ValueError):
        resident.search("x", "semantic", 10, semantic_mode="nope")


def test_resident_enrichment_fields(resident):
    rows = resident.search("python async programming", "bm25", 5)
    assert rows and rows[0]["url"].startswith("https://")
    assert all(r["title"] for r in rows)
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_resident_query_is_fast(resident):
    """The point of residency: warm queries answer in milliseconds (the
    reference's resident Vespa server answers in ~10 ms; the Spark path
    pays a ~0.3-0.5 s local-mode scheduling floor per query)."""
    q = "python async programming"
    resident.search(q, "bm25", 10)  # warm
    t0 = time.perf_counter()
    n = 20
    for _ in range(n):
        resident.search(q, "bm25", 10)
    per_query = (time.perf_counter() - t0) / n
    assert per_query < 0.1, f"resident bm25 query took {per_query * 1e3:.1f} ms"


def test_resident_validation(resident):
    with pytest.raises(ValueError):
        resident.search("x", "bm25", 0)
    with pytest.raises(ValueError):
        resident.search("x", "nope", 10)


@pytest.mark.slow
def test_hybrid_two_phase_degenerate_parity(spark, tmp_path_factory):
    """The two-phase hybrid exit (rank by the cheap bound, exact-blend a
    candidate prefix, extend until the next bound is below the k-th exact
    deduped score) must be LOSSLESS.  A single-shard build with >256
    matches for a corpus-wide term forces the chunked path (chunk =
    max(4k, 256)); results must equal the exhaustive oracle exactly.
    The same term's posting list spans several 128-posting blocks, so
    bm25 is checked against the oracle over multi-block lists too."""
    import collections

    import numpy as np

    from chavinha_mini_search_engine_spark.fixtures.pages import generate_pages
    from chavinha_mini_search_engine_spark.functions.tokenizer import tokenize_py
    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
    )
    from chavinha_mini_search_engine_spark.oracle.scorer import OracleIndex
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    cfg = IndexConfig(num_doc_shards=1, shard_groups=1, term_buckets=8)
    rows = generate_pages(400, include_edges=False)
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    pages_dir = str(tmp_path_factory.mktemp("tp") / "pages")
    spark.createDataFrame(rows, schema).write.parquet(pages_dir)
    store = IndexStore(str(tmp_path_factory.mktemp("tp") / "i"), build_id="tp")
    build_index(spark, spark.read.parquet(pages_dir), store, cfg,
                with_embeddings=True, verify_text_invariant=False)

    # the most frequent token = the closest thing to a match-everything
    # stopword in the synthetic corpus
    df_count = collections.Counter()
    for r in rows:
        if r["lang"] == "en":
            df_count.update(set(tokenize_py(r["text"])))
    degenerate_term, df = df_count.most_common(1)[0]
    assert df > 256, "need a term matching >256 docs to force chunking"

    # the queried list spans several blocks (block-max pruning and the
    # block-range decode see more than one block per list)
    tids = [r["tid"] for r in store.read(spark, "term_dict")
            .filter(F.col("term") == degenerate_term).collect()]
    blocks = store.read_parts(spark, "postings").filter(
        F.col("tid").isin(tids)).agg(F.max("block_idx")).first()[0]
    assert blocks > 0, "need a posting list of more than one block"

    rs = ResidentSearcher(store, cfg)

    def to_odocs(df_):
        out = []
        for r in df_.collect():
            d = r.asDict()
            emb = d.pop("embedding", None)
            d["embedding"] = (
                np.asarray(emb, dtype=np.float32) if emb is not None else None
            )
            out.append(d)
        return out

    oracle = OracleIndex(to_odocs(store.read(spark, "unified")))
    for st in ("hybrid", "bm25"):
        for q in (degenerate_term, f"{degenerate_term} python"):
            for k in (1, 10, 50):
                got = norm(rs.search(q, st, k))
                exp = sorted(
                    ((h["doc_id"], round(h["score"], 9))
                     for h in oracle.search(q, st, k)),
                    key=lambda t: (-t[1], t[0]),
                )
                assert [g[0] for g in got] == [e[0] for e in exp], (st, q, k)
                for (gid, gs), (_, es) in zip(got, exp):
                    assert abs(gs - es) < 1e-8, (st, q, k, gid, gs, es)


@pytest.mark.parametrize("st,mode", [
    ("bm25", "exact"), ("hybrid", "exact"),
    ("semantic", "exact"), ("semantic", "lsh"),
])
def test_sharded_fanout_matches_single_process(built, resident, st, mode):
    """Content-node decomposition: P=4 shard-subset replicas, each scoring
    a disjoint quarter of the shards (shards=), must produce candidate
    pools whose gateway merge_candidates ranks exactly like one
    all-shards search() -- the scatter/gather layer a cluster deployment
    adds must be a no-op on semantics."""
    P = 4
    replicas = [
        ResidentSearcher(built, CFG,
                         shards=[s for s in range(CFG.num_doc_shards)
                                 if s % P == r])
        for r in range(P)
    ]
    # the replicas must actually hold disjoint shard subsets
    for r, rep in enumerate(replicas):
        assert set(rep.state_by_shard) <= {s for s in range(CFG.num_doc_shards)
                                           if s % P == r}
    gateway = ResidentSearcher(built, CFG, shards=[])
    assert not gateway.state_by_shard  # gateway holds no content shards
    for q in PERF_QUERIES[:3]:
        pools = [rep.search_candidates(q, st, 10, mode) for rep in replicas]
        hits = ResidentSearcher.merge_candidates(pools, 10)
        from chavinha_mini_search_engine_spark.operators.search import _query_terms
        got = norm(gateway._enrich(hits, _query_terms(q)))
        exp = norm(resident.search(q, st, 10, semantic_mode=mode))
        assert got == exp, (st, mode, q, got, exp)


@pytest.mark.parametrize("st", ["bm25", "hybrid"])
def test_postings_cache_hot_equals_cold(built, engine, st):
    """A FRESH searcher's first pass (cold cache, block-max pruned decode)
    and its second pass (hot PostingsCache, exhaustive cached adds) must
    rank and score identically -- the cache's soundness claim -- and both
    must match the Spark engine."""
    rs = ResidentSearcher(built, CFG)
    for q in PERF_QUERIES[:5]:
        cold = norm(rs.search(q, st, 10))
        hot = norm(rs.search(q, st, 10))
        assert cold == hot, (st, q, cold, hot)
        exp = norm(r.asDict() for r in engine.search(q, st, 10).collect())
        assert [h[0] for h in hot] == [e[0] for e in exp]
        for (_, gs), (_, es) in zip(hot, exp):
            assert abs(gs - es) < 1e-8


def test_postings_cache_eviction_bound():
    import numpy as np

    from chavinha_mini_search_engine_spark.operators.search import PostingsCache

    c = PostingsCache(max_postings=100)
    for i in range(20):
        c.put(("s", "f", f"t{i}"), np.arange(10), np.ones(10))
    assert c._total <= 100
    # newest entries survive, oldest evicted
    assert c.get(("s", "f", "t19")) is not None
    assert c.get(("s", "f", "t0")) is None


# --- resident postings layout (ResidentSearcher.postings) ---


def _reference_post_fused(store, rs, shards=None):
    """The per-list layout written out the slow way: the postings joined
    to ``term_dict`` on tid, a pandas groupby per (field, term, shard),
    each group sorted by first_local, shards of one (field, term)
    concatenated in ascending shard order with block ranges globalized by
    the searcher's shard offsets."""
    import numpy as np
    import pandas as pd
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    from chavinha_mini_search_engine_spark.operators.serve import POST_COLS

    # its own dataset reads, independent of the searcher's reader
    frames = []
    for d in store.segment_dirs("postings"):
        ds = pads.dataset(d, format="parquet", partitioning="hive")
        if ds.files:
            frames.append(ds.to_table(
                columns=POST_COLS,
                filter=None if shards is None
                else pc.field("shard").isin(shards)).to_pandas())
    post = pd.concat(frames, ignore_index=True)
    names = pads.dataset(store.path("term_dict"), format="parquet").to_table(
        columns=["tid", "field", "term"]).to_pandas()
    named = post.merge(names, on="tid", validate="many_to_one")
    assert len(named) == len(post), "a postings tid is not in term_dict"
    by_ft = {}
    for (f, t, s), g in named.groupby(["field", "term", "shard"]):
        if int(s) in rs.shard_offsets:
            by_ft.setdefault((f, t), []).append(
                (int(s), g.sort_values("first_local")))
    out = {}
    for (f, t), lst in by_ft.items():
        lst.sort(key=lambda e: e[0])

        def cat(c, dt=None):
            return np.concatenate([g[c].to_numpy(dt) for _, g in lst])

        boffs = np.concatenate(
            [np.full(len(g), rs.shard_offsets[s], dtype=np.int64)
             for s, g in lst])
        out[(f, t)] = (
            cat("first_local", np.int64) + boffs,
            cat("last_local", np.int64) + boffs, cat("max_score", np.float64),
            cat("n", np.int64), cat("doc_bytes"), cat("tf_bytes"), boffs,
        )
    return out


def _resident_lists(rs):
    """The searcher's lists keyed by (field, term) through its resident
    dictionary; every resident tid must have a dictionary entry."""
    lists = rs.postings
    tids = lists.tids.tolist()
    assert tids == sorted(set(tids))
    assert lists.starts[-1] == len(lists.cols[0])
    rows = lists.select(tids)
    names = {tid: ft for ft, (tid, _idf) in rs.term_dict.items()}
    assert set(rows) == set(tids) and set(rows) <= set(names)
    out = {}
    for tid, (a, b, mx) in rows.items():
        out[names[tid]] = tuple(c[a:b] for c in lists.cols)
        assert mx == lists.cols[2][a:b].max()
    return out


def _assert_layout_equal(got, exp):
    import numpy as np

    assert got.keys() == exp.keys()
    for key, e in exp.items():
        g = got[key]
        assert len(g) == len(e) == 7, key
        for ga, ea in zip(g, e):
            assert ga.dtype == ea.dtype, key
            if ea.dtype == object:
                assert ga.tolist() == ea.tolist(), key
            else:
                assert np.array_equal(ga, ea), key


def test_post_fused_matches_per_group_reference(built, resident):
    assert len(resident.postings.tids)
    _assert_layout_equal(_resident_lists(resident),
                         _reference_post_fused(built, resident))


def test_post_fused_shard_subset_matches_reference(built):
    shards = [1, 2, 5]
    rs = ResidentSearcher(built, CFG, shards=shards)
    assert set(rs.shard_offsets) == set(shards)
    _assert_layout_equal(_resident_lists(rs),
                         _reference_post_fused(built, rs, shards))


def test_deltas_use_saved_layout(delta_store):
    """Delta docs hash into the base's 4 shards and delta postings into
    its 8 term buckets, though the stream was started without a cfg."""
    import pyarrow.parquet as pq

    store, cfg = delta_store
    parts = store.committed_parts("attributes_delta")
    assert parts
    for part in parts:
        shards = pq.read_table(store.path("attributes_delta", part),
                               columns=["shard"]).column("shard")
        assert max(shards.to_pylist()) < cfg.num_doc_shards, part
    buckets = [
        b for p in store.committed_parts("postings") if p.startswith("delta=")
        for b in pq.read_table(store.path("postings", p),
                               columns=["tbucket"]).column("tbucket").to_pylist()
    ]
    assert buckets
    assert max(buckets) < cfg.term_buckets


def _assert_flat_tbucket_sorted(spark, path, n_buckets, term_dict):
    """``path`` is flat (no tbucket= dir), every row's tbucket is the
    engine's bucket of its term (a postings row's term through
    ``term_dict``, by tid), and each file's row groups ascend in tbucket
    (min/max statistics, which the pushed ``tbucket IN (...)`` filter
    prunes by)."""
    import pyarrow.parquet as pq

    from chavinha_mini_search_engine_spark.operators.index_build import (
        tbucket_col,
    )

    entries = os.listdir(path)
    assert not [d for d in entries if d.startswith("tbucket=")], path
    files = [os.path.join(path, f) for f in entries if f.endswith(".parquet")]
    assert files, path
    df = spark.read.parquet(path)
    if "term" not in df.columns:
        named = df.join(spark.read.parquet(term_dict).select("tid", "term"),
                        "tid")
        assert named.count() == df.count(), path
        df = named
    df = df.withColumn("exp", tbucket_col(F.col("term"), n_buckets))
    assert df.filter(F.col("exp") != F.col("tbucket")).count() == 0, path
    for f in files:
        md = pq.read_metadata(f)
        col = md.schema.names.index("tbucket")
        last = -1
        for rg in range(md.num_row_groups):
            if md.row_group(rg).num_rows:
                st = md.row_group(rg).column(col).statistics
                assert last <= st.min <= st.max, (f, rg)
                last = st.max


def test_flat_tbucket_sorted_layout(spark, built, delta_store):
    """Postings parts (base and streamed delta) and term_dict are flat
    files sorted by tbucket, and a streamed micro-batch writes one
    postings file."""
    delta, _cfg = delta_store
    parts = [(built, p) for p in built.committed_parts("postings")] + [
        (delta, p) for p in delta.committed_parts("postings")
    ]
    assert any(p.startswith("delta=") for _s, p in parts)
    for store, part in parts:
        path = store.path("postings", part)
        _assert_flat_tbucket_sorted(spark, path,
                                    store.saved_config().term_buckets,
                                    store.path("term_dict"))
        if part.startswith("delta="):
            assert len([f for f in os.listdir(path)
                        if f.endswith(".parquet")]) == 1, path
    for store in (built, delta):
        _assert_flat_tbucket_sorted(
            spark, store.path("term_dict"), store.saved_config().term_buckets,
            store.path("term_dict"),
        )


def test_stream_rejects_mismatched_cfg(spark, tmp_path):
    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
    )
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore
    from chavinha_mini_search_engine_spark.streaming import incremental

    store = IndexStore(str(tmp_path / "i"), build_id="cfg")
    store.save_config(IndexConfig(num_doc_shards=4, term_buckets=8))
    assert store.saved_config() == IndexConfig(num_doc_shards=4, term_buckets=8)
    with pytest.raises(ValueError, match="saved index config"):
        incremental.stream_index_deltas(
            spark, str(tmp_path / "nopages"), store,
            IndexConfig(num_doc_shards=4, term_buckets=8, k1=1.5),
        )


def test_post_fused_base_plus_deltas_matches_reference(spark, delta_store):
    import pyarrow.parquet as pq

    store, cfg = delta_store
    parts = store.committed_parts("postings")
    assert sum(p.startswith("delta=") for p in parts) >= 2, parts
    assert any(
        pq.read_metadata(os.path.join(store.path("postings", p), f)).num_rows == 0
        for p in parts for f in os.listdir(store.path("postings", p))
        if f.endswith(".parquet")
    ), "fixture must commit an empty shard-group part"
    rs = ResidentSearcher(store, cfg)
    _assert_layout_equal(_resident_lists(rs), _reference_post_fused(store, rs))
    # the Spark path serves the same store, empty parts included
    got = norm(rs.search("python", "bm25", 5))
    exp = norm(r.asDict() for r in
               SearchEngine(spark, store, cfg).search("python", "bm25", 5).collect())
    assert got and [g[0] for g in got] == [e[0] for e in exp]
    for (_, gs), (_, es) in zip(got, exp):
        assert abs(gs - es) < 1e-8


def test_compact_tiered_with_empty_shard_groups(spark, delta_store,
                                               tmp_path_factory):
    """compact_tiered merges a store whose empty shard-groups committed
    postings parts with no file (as stores built before postings were
    flat did), and serves bm25 like a from-scratch build of its pages."""
    import shutil

    import pyarrow.parquet as pq

    from chavinha_mini_search_engine_spark.fixtures.pages import generate_pages
    from chavinha_mini_search_engine_spark.operators.index_build import (
        build_index,
        compact_tiered,
    )
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    src, cfg = delta_store
    root = str(tmp_path_factory.mktemp("cte") / "i")
    shutil.copytree(src.root, root)
    store = IndexStore(root)
    emptied = 0
    for part in store.committed_parts("postings"):
        path = store.path("postings", part)
        files = [os.path.join(path, f) for f in os.listdir(path)
                 if f.endswith(".parquet")]
        if all(pq.read_metadata(f).num_rows == 0 for f in files):
            for f in files:
                os.remove(f)
            emptied += 1
    assert emptied, "fixture must commit an empty shard-group part"

    tiered = compact_tiered(
        spark, store,
        IndexStore(str(tmp_path_factory.mktemp("cte") / "t"), build_id="cte"),
    )
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    pages = str(tmp_path_factory.mktemp("cte") / "pages")
    spark.createDataFrame(generate_pages(40, include_edges=False),
                          schema).write.parquet(pages)
    full = IndexStore(str(tmp_path_factory.mktemp("cte") / "f"), build_id="ctf")
    build_index(spark, spark.read.parquet(pages), full, cfg,
                with_embeddings=False, verify_text_invariant=False)
    rs_t, rs_f = ResidentSearcher(tiered, cfg), ResidentSearcher(full, cfg)
    eng_t = SearchEngine(spark, tiered, cfg, cache=False)
    for q in ("python", "docker container", "python async programming"):
        exp = [(h["id"], round(h["relevance"], 9))
               for h in rs_f.search(q, "bm25", 10)]
        got = [(h["id"], round(h["relevance"], 9))
               for h in rs_t.search(q, "bm25", 10)]
        assert exp and got == exp, q
        got = [(r["id"], round(r["relevance"], 9))
               for r in eng_t.search(q, "bm25", 10).collect()]
        assert got == exp, q


def test_driver_aggregations_match_whole_table(built, tmp_path):
    """The batch-folding postings-part metrics and corpus stats equal a
    whole-table pyarrow aggregation of the same stored tables."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from chavinha_mini_search_engine_spark.operators.index_build import (
        _postings_part_metrics,
        write_corpus_stats_local,
    )

    for part in built.committed_parts("postings"):
        path = built.path("postings", part)
        tbl = pads.dataset(path, format="parquet", partitioning="hive").to_table(
            columns=["shard", "n", "doc_bytes", "tf_bytes"])
        exp = {}
        for s, n, d, t in zip(*(tbl.column(c).to_pylist() for c in tbl.column_names)):
            e = exp.setdefault(s, {"shard": s, "blocks": 0, "postings": 0, "bytes": 0})
            e["blocks"] += 1
            e["postings"] += n
            e["bytes"] += len(d) + len(t)
        assert _postings_part_metrics(path) == sorted(
            exp.values(), key=lambda e: e["shard"]), part

    out = str(tmp_path / "corpus_stats")
    write_corpus_stats_local(built.path("doclens"), out, CFG)
    lens = pads.dataset(built.path("doclens"), format="parquet").to_table()
    exp = []
    for f in CFG.fields:
        col = lens.column(f)
        n = len(col) - col.null_count
        if n:
            exp.append((f, n, pc.sum(col).as_py() / n))
    got = pq.read_table(out)
    assert list(zip(*(got.column(c).to_pylist()
                      for c in ("field", "n_docs", "avgdl")))) == exp


def test_load_store_without_postings_rows(built, tmp_path):
    """Every committed postings part empty: the searcher loads with an
    empty layout, bm25 finds nothing and semantic still serves."""
    import shutil

    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    root = str(tmp_path / "idx")
    shutil.copytree(built.root, root)
    store = IndexStore(root)
    for part in store.committed_parts("postings"):
        shutil.rmtree(store.path("postings", part))
        os.makedirs(store.path("postings", part))
        open(os.path.join(store.path("postings", part), "_SUCCESS"), "w").close()
    rs = ResidentSearcher(store, CFG)
    assert len(rs.postings.tids) == 0
    assert rs.postings.select(tid for tid, _idf in rs.term_dict.values()) == {}
    assert rs.search("python async programming", "bm25", 5) == []
    assert rs.search("python async programming", "semantic", 5)


_blocks = hst.lists(
    hst.tuples(hst.sampled_from([-(2 ** 63), -5, -1, 0, 1, 7, 2 ** 40,
                                 2 ** 63 - 1]),
               hst.integers(0, 3), hst.integers(1, 4)),
    min_size=1, max_size=40,
)


@settings(max_examples=60, deadline=None)
@given(_blocks, hst.randoms(use_true_random=False))
def test_post_groups_shuffled_frame(blocks, rnd):
    """post_groups on rows in any order: one list per tid, holding
    exactly that tid's blocks, sorted by first_local."""
    import collections

    import numpy as np
    import pandas as pd

    from chavinha_mini_search_engine_spark.operators.search import post_groups

    # each tid gets disjoint ascending block ranges
    nxt = collections.Counter()
    rows = []
    for tid, s, width in blocks:
        first = nxt[tid]
        nxt[tid] += width
        rows.append({
            "tid": tid, "shard": s, "first_local": first,
            "last_local": first + width - 1, "n": width,
            "max_score": float(width), "doc_bytes": f"d{first}".encode(),
            "tf_bytes": f"t{first}".encode(),
        })
    members = collections.defaultdict(set)
    for r in rows:
        members[r["tid"]].add(r["first_local"])
    rnd.shuffle(rows)
    frame = pd.DataFrame(rows)
    # the Spark kernel's pandas frame and the loader's dict of arrays
    for post in (frame, {c: frame[c].to_numpy() for c in frame}):
        lists = post_groups(post)
        assert lists.tids.tolist() == sorted(members)
        assert lists.starts[-1] == len(rows)
        got = lists.select(list(members) + [2])  # 2 is no sampled tid
        assert sorted(got) == sorted(members)
        for tid, (a, b, mx) in got.items():
            firsts, lasts, maxs, ns, docb, tfb = (c[a:b] for c in lists.cols)
            assert mx == maxs.max()
            assert np.all(np.diff(firsts) > 0)
            assert set(firsts.tolist()) == members[tid]
            assert np.array_equal(lasts - firsts + 1, ns)
            assert docb.tolist() == [
                f"d{x}".encode() for x in firsts.tolist()]


_SERVE_PROCESS = """
import json, sys, urllib.request
from chavinha_mini_search_engine_spark.http_api import ResidentHTTPServer
from chavinha_mini_search_engine_spark.operators.serve import ResidentSearcher
from chavinha_mini_search_engine_spark.sources.tables import IndexStore

q = "python async programming"
hits = {}
for root in sys.argv[1:]:
    store = IndexStore(root)
    rs = ResidentSearcher(store)
    for st in ("bm25", "hybrid", "semantic"):
        hits[f"{root} {st}"] = len(rs.search(q, st, 5))
    for mode in ("lsh", "graph"):
        hits[f"{root} {mode}"] = len(rs.search(q, "semantic", 5, mode))
    srv = ResidentHTTPServer(store, searcher=rs).start()
    try:
        for path in ("/api/search?q=python&search_type=hybrid", "/api/stats",
                     "/health"):
            url = f"http://127.0.0.1:{srv.port}{path}"
            with urllib.request.urlopen(url) as r:
                assert r.status == 200, (path, r.status)
                json.loads(r.read())
    finally:
        srv.stop()
print(json.dumps({"hits": hits, "imported": sorted(
    m for m in ("pandas", "pyspark", "py4j", "pyarrow.dataset")
    if m in sys.modules)}))
"""


def test_serve_process_imports_no_spark_or_pandas(built, delta_store):
    """A process that loads the resident searcher over a built store and a
    base + delta store, queries every mode and serves each HTTP endpoint
    never imports Spark, py4j, pandas or pyarrow.dataset."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", _SERVE_PROCESS, built.root, delta_store[0].root],
        cwd=repo, capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": repo},
    )
    assert r.returncode == 0, r.stderr
    out = json.loads(r.stdout.splitlines()[-1])
    assert out["imported"] == []
    assert all(out["hits"].values()), out["hits"]


def test_arrow_to_numpy_matches_to_pylist():
    """The serve loader's buffer conversion gives to_pylist's values: nulls
    (NaN in a numeric column, None elsewhere), sliced and chunked arrays,
    non-ASCII strings, bytes with NULs, nested lists."""
    import math

    import numpy as np
    import pyarrow as pa

    from chavinha_mini_search_engine_spark.sources.tables import arrow_to_numpy

    def norm(v):
        if isinstance(v, np.ndarray):
            return [norm(x) for x in v.tolist()]
        if isinstance(v, list):
            return [norm(x) for x in v]
        if isinstance(v, float) and math.isnan(v):
            return None
        return v

    cases = [
        pa.array([1, None, 3], pa.int32()),
        pa.array([1.5, None], pa.float32()),
        pa.array([5, 6, 7], pa.int64()).slice(1),
        pa.array(["a", None, "é", ""]),
        pa.array(["x", "yy", "zzz", None, "w"]).slice(1, 3),
        pa.array([b"\x00", None, b"ab\x00"]),
        pa.array([[1.0, 2.0], None, [], [3.0]], pa.list_(pa.float32())),
        pa.array([[1.0], [2.0, 3.0], None], pa.list_(pa.float64())).slice(1),
        pa.array([[[1, 2], [3]], [], None], pa.list_(pa.list_(pa.int64()))),
        pa.array([True, None]),
        pa.chunked_array([pa.array([1, 2]), pa.array([3])]),
        pa.chunked_array([pa.array([], pa.string())]),
    ]
    for col in cases:
        got = arrow_to_numpy(col)
        assert got.ndim == 1 and len(got) == len(col)
        assert [norm(x) for x in got] == col.to_pylist(), col.type
    # fixed width without nulls: a view of the Arrow data buffer
    col = pa.array([1, 2, 3], pa.int64())
    assert arrow_to_numpy(col).dtype == np.int64
    assert np.shares_memory(arrow_to_numpy(col),
                            np.frombuffer(col.buffers()[1], np.int64))
