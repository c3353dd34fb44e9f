"""Graph-ANN (per-shard HNSW) tests: determinism, recall vs brute force,
row serde roundtrip, the Spark build stage + resident graph serve mode.

The reference gets HNSW from Vespa (config/vespa/schemas/doc.sd:55-60);
this suite pins the engine-side rebuild (operators/graph_ann.py).
"""

import numpy as np
import pytest

from chavinha_mini_search_engine_spark.operators.graph_ann import (
    build_hnsw,
    graph_from_rows,
    graph_rows,
    node_levels,
    search_hnsw,
)


def _unit(rng, n, dim):
    v = rng.standard_normal((n, dim))
    return v / np.linalg.norm(v, axis=1)[:, None]


def _brute_topk(vecs, q, k):
    sims = vecs @ q
    order = np.lexsort((np.arange(len(vecs)), -sims))
    return order[:k]


class TestKernel:
    def test_levels_deterministic_and_geometric(self):
        lv = node_levels(5000, m=8, seed=42)
        assert np.array_equal(lv, node_levels(5000, m=8, seed=42))
        assert not np.array_equal(lv, node_levels(5000, m=8, seed=7))
        # geometric-ish: most nodes at level 0, some above
        assert (lv == 0).mean() > 0.7
        assert lv.max() >= 1

    def test_build_deterministic(self):
        rng = np.random.Generator(np.random.PCG64(1))
        vecs = _unit(rng, 300, 16)
        g1, g2 = build_hnsw(vecs), build_hnsw(vecs)
        assert np.array_equal(g1.levels, g2.levels)
        assert g1.entry == g2.entry
        for l1, l2 in zip(g1.adj, g2.adj):
            assert l1.keys() == l2.keys()
            for k in l1:
                assert np.array_equal(l1[k], l2[k])

    def test_recall_vs_brute_force(self):
        rng = np.random.Generator(np.random.PCG64(2))
        vecs = _unit(rng, 2000, 32)
        g = build_hnsw(vecs, m=8, ef_construction=64)
        hits = total = 0
        for qi in range(20):
            q = _unit(rng, 1, 32)[0]
            exact = set(_brute_topk(vecs, q, 10).tolist())
            idx, sims = search_hnsw(vecs, g, q, 10, ef_search=64)
            hits += len(exact & set(idx.tolist()))
            total += 10
            # returned similarities are the true cosines
            assert np.allclose(sims, vecs[idx] @ q, atol=1e-12)
        assert hits / total >= 0.95, f"recall {hits / total}"

    def test_search_ordering_and_k(self):
        rng = np.random.Generator(np.random.PCG64(3))
        vecs = _unit(rng, 100, 8)
        g = build_hnsw(vecs)
        q = _unit(rng, 1, 8)[0]
        idx, sims = search_hnsw(vecs, g, q, 7, ef_search=100)
        assert len(idx) == 7
        assert np.all(np.diff(sims) <= 1e-15)  # best-first

    def test_small_and_empty(self):
        idx, sims = search_hnsw(np.zeros((0, 4)), build_hnsw(np.zeros((0, 4))),
                                np.ones(4) / 2, 5)
        assert len(idx) == 0
        rng = np.random.Generator(np.random.PCG64(4))
        vecs = _unit(rng, 3, 4)
        g = build_hnsw(vecs)
        q = _unit(rng, 1, 4)[0]
        idx, _ = search_hnsw(vecs, g, q, 10)
        assert set(idx.tolist()) == {0, 1, 2}

    def test_rows_roundtrip(self):
        rng = np.random.Generator(np.random.PCG64(5))
        vecs = _unit(rng, 400, 16)
        g = build_hnsw(vecs)
        ids = np.arange(400) * 3 + 7  # non-contiguous external ids
        rows = graph_rows(g, ids)
        g2 = graph_from_rows(ids, [r["level"] for r in rows],
                             [r["nbrs"] for r in rows])
        q = _unit(rng, 1, 16)[0]
        i1, s1 = search_hnsw(vecs, g, q, 10, ef_search=50)
        i2, s2 = search_hnsw(vecs, g2, q, 10, ef_search=50)
        assert np.array_equal(i1, i2)
        assert np.allclose(s1, s2)


class TestSparkGraph:
    def test_graph_topk_matches_exact(self, spark):
        """The distributed per-partition graph top-k equals the exact
        brute-force top-k on the driver test table (backs the
        ann_graph_topk gate entry's exact SQL twin)."""
        from chavinha_mini_search_engine_spark.operators.graph_ann import graph_topk
        from chavinha_mini_search_engine_spark.operators.similarity import cosine_topk

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        q = emb.filter("vec_id = 0").select("embedding").first()[0]
        got = graph_topk(emb, q, k=10).collect()
        want = cosine_topk(emb, q, k=10).collect()
        assert [(r.vec_id, r.cosine) for r in got] == \
            [(r.vec_id, r.cosine) for r in want]

    def test_graph_topk_size_derived_partitioning(self, spark):
        """r6: the default partition count derives from the table size
        (ceil(n / slice_target)), so the per-slice python build stays
        bounded as the table grows, and the result is invariant to the
        partitioning (each slice stays within the ef_search beam)."""
        from chavinha_mini_search_engine_spark.operators.graph_ann import graph_topk
        from chavinha_mini_search_engine_spark.operators.similarity import cosine_topk
        from chavinha_mini_search_engine_spark.plans.explain import formatted_plan

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        n = emb.count()
        q = emb.filter("vec_id = 0").select("embedding").first()[0]
        # the derived default appears in the plan as the repartition count
        df = graph_topk(emb, q, k=10)
        expect = max(1, -(-n // 128))
        plan = formatted_plan(df)
        assert f"hashpartitioning(vec_id#" in plan
        assert f", {expect}), REPARTITION_BY_NUM" in plan
        # partitioning-invariance: an explicit different count gives the
        # same (exact) answer at this scale
        want = [(r.vec_id, r.cosine) for r in cosine_topk(emb, q, k=10).collect()]
        for nparts in (1, 7):
            got = [(r.vec_id, r.cosine)
                   for r in graph_topk(emb, q, k=10, n_partitions=nparts).collect()]
            assert got == want, f"n_partitions={nparts}"

    def test_build_stage_and_graph_serve_mode(self, spark, tmp_path):
        """cfg.graph_ann=True persists a graph table; resident
        semantic_mode='graph' answers from it with high agreement vs the
        exact semantic scan, and a resume skips the done stage."""
        from chavinha_mini_search_engine_spark.config import IndexConfig
        from chavinha_mini_search_engine_spark.fixtures.pages import (
            write_pages_parquet,
        )
        from chavinha_mini_search_engine_spark.operators.index_build import (
            build_index,
        )
        from chavinha_mini_search_engine_spark.operators.serve import (
            ResidentSearcher,
        )
        from chavinha_mini_search_engine_spark.sources.tables import IndexStore

        cfg = IndexConfig(num_doc_shards=4, shard_groups=1, term_buckets=4,
                          encode_buckets=2, graph_ann=True)
        ppath = str(tmp_path / "pages")
        write_pages_parquet(spark, ppath, n=80, include_edges=False)
        pages = spark.read.parquet(ppath)
        store = IndexStore(str(tmp_path / "idx"), build_id="g1")
        build_index(spark, pages, store, cfg, verify_text_invariant=False)
        assert store.stage_done("graph")
        assert store.exists("graph")

        rs = ResidentSearcher(store)
        assert rs._graph_rows_by_shard  # loaded from the persisted table
        queries = ["data pipelines", "rust compiler", "web crawler"]
        agree = n = 0
        for q in queries:
            exact = rs.search(q, "semantic", k=5, semantic_mode="exact")
            graph = rs.search(q, "semantic", k=5, semantic_mode="graph")
            assert graph, "graph mode returned no hits"
            e_ids = [h["id"] for h in exact]
            g_ids = [h["id"] for h in graph]
            agree += len(set(e_ids) & set(g_ids))
            n += len(e_ids)
            # scores are in closeness units; top hit should match exactly
            assert g_ids[0] == e_ids[0]
            assert graph[0]["relevance"] == pytest.approx(
                exact[0]["relevance"], abs=1e-9
            )
        assert agree / n >= 0.9

        # lazy fallback path (no persisted table) answers identically
        rs2 = ResidentSearcher(store)
        rs2._graph_rows_by_shard = {}
        for q in queries:
            a = [h["id"] for h in rs.search(q, "semantic", k=5,
                                            semantic_mode="graph")]
            b = [h["id"] for h in rs2.search(q, "semantic", k=5,
                                             semantic_mode="graph")]
            assert a == b

        # resume: the done graph stage is skipped (no re-write)
        import os

        mtime = os.path.getmtime(store.path("graph"))
        build_index(spark, pages, store, cfg, verify_text_invariant=False)
        assert os.path.getmtime(store.path("graph")) == mtime
