"""Rank-identical top-k vs the pure-Python oracle (SURVEY.md §5.2 test 4).

Builds the full index over the tiny synthetic pages corpus, then runs the
reference query set (perf + cloud sample + edge cases) for every search
type and asserts the engine's (doc_id, score) sequence matches the oracle
rank for rank (scores atol 1e-8; ties and near-float-ties normalized by
sorting on (round(score, 9), id) in both).

Because the engine's WAND/MaxScore pruning runs on the bm25 path and the
oracle scores exhaustively, rank-identity here doubles as the
pruning-is-lossless proof.
"""

import numpy as np
import pytest

from chavinha_mini_search_engine_spark.fixtures.queries import (
    CLOUD_QUERIES,
    EDGE_QUERIES,
    PERF_QUERIES,
)
from chavinha_mini_search_engine_spark.operators.search import SearchEngine
from chavinha_mini_search_engine_spark.oracle.scorer import OracleIndex

from tests.parity_cfg import CFG  # noqa: E402


@pytest.fixture(scope="session")
def engine(spark, built):
    return SearchEngine(spark, built, CFG)


@pytest.fixture(scope="session")
def oracle(spark, built):
    rows = built.read(spark, "unified").collect()
    docs = []
    for r in rows:
        d = r.asDict()
        emb = d.pop("embedding", None)
        d["embedding"] = np.asarray(emb, dtype=np.float32) if emb is not None else None
        docs.append(d)
    return OracleIndex(docs)


QUERIES = PERF_QUERIES + CLOUD_QUERIES[:8] + EDGE_QUERIES


def norm(results):
    """normalize near-float-ties: sort by (-round(score,9), doc_id)."""
    return sorted(((r["doc_id"], r["score"]) for r in results),
                  key=lambda t: (-round(t[1], 9), t[0]))


def assert_match(engine_df, oracle_hits, query, st):
    got = [
        {"doc_id": r["id"], "score": r["relevance"]}
        for r in engine_df.orderBy("rank").collect()
    ]
    g, o = norm(got), norm(oracle_hits)
    assert [x[0] for x in g] == [x[0] for x in o], (
        f"doc ids differ for {st} q={query!r}\n got={g}\n exp={o}"
    )
    for (gid, gs), (oid, os_) in zip(g, o):
        assert abs(gs - os_) < 1e-8, f"score drift {st} q={query!r} {gid}: {gs} vs {os_}"


@pytest.mark.parametrize("query", QUERIES, ids=[q[:24] or "<empty>" for q in QUERIES])
def test_bm25_rank_identical(engine, oracle, query):
    assert_match(engine.search(query, "bm25", 10), oracle.search(query, "bm25", 10), query, "bm25")


@pytest.mark.parametrize("query", PERF_QUERIES[:6] + EDGE_QUERIES[:2])
def test_hybrid_rank_identical(engine, oracle, query):
    assert_match(engine.search(query, "hybrid", 10), oracle.search(query, "hybrid", 10), query, "hybrid")


@pytest.mark.parametrize("query", PERF_QUERIES[:4])
def test_semantic_rank_identical(engine, oracle, query):
    assert_match(engine.search(query, "semantic", 10), oracle.search(query, "semantic", 10), query, "semantic")


def test_semantic_lsh_mode_parity(spark, built, engine):
    """semantic_mode="lsh" must return EXACTLY the docs a numpy twin picks:
    probed-bucket chunks scored by closeness, parent-deduped, top-k.  (The
    approximation is in WHICH candidates are probed -- asserted here to be
    the deterministic multi-probe set -- not in the scores.)"""
    import math

    from chavinha_mini_search_engine_spark.oracle.embedder import embed_text

    q = "python async programming"
    k = 10
    got = [
        (r["id"], round(r["relevance"], 9))
        for r in engine.search(q, "semantic", k, semantic_mode="lsh").collect()
    ]

    qvec = np.asarray(embed_text(q), dtype=np.float64)
    probes = set(engine._semantic_probes(qvec))
    rows = built.read(spark, "attributes").filter("doc_type = 'chunk'").collect()
    scored = []
    for r in rows:
        if r["sem_bucket"] is None or r["sem_bucket"] not in probes:
            continue
        emb = np.asarray(r["embedding"], dtype=np.float64)
        cl = 1.0 / (1.0 + math.acos(max(-1.0, min(1.0, float(emb @ qvec)))))
        scored.append((cl, r["id"], r["parent_id"]))
    scored.sort(key=lambda t: (-t[0], t[1]))
    seen, exp = set(), []
    for cl, cid, pid in scored:
        key = pid or cid
        if key in seen:
            continue
        seen.add(key)
        exp.append((pid or cid, round(cl, 9)))
        if len(exp) == k:
            break
    assert sorted(got) == sorted(exp), f"\n got={sorted(got)}\n exp={sorted(exp)}"


def test_k_bounds(engine, oracle):
    q = "python async programming"
    assert_match(engine.search(q, "bm25", 1), oracle.search(q, "bm25", 1), q, "bm25-k1")
    assert_match(engine.search(q, "bm25", 50), oracle.search(q, "bm25", 50), q, "bm25-k50")
    with pytest.raises(ValueError):
        engine.search(q, "bm25", 0)
    with pytest.raises(ValueError):
        engine.search(q, "bm25", 51)
    with pytest.raises(ValueError):
        engine.search(q, "nope", 10)


def test_extraction_invariant_recorded(spark, built, tiny_pages):
    """byte-identical extracted text per url (the input-hint invariant) --
    verified during the build; re-assert independently here."""
    from pyspark.sql import functions as F

    pages = spark.read.parquet(tiny_pages)
    docs = built.read(spark, "docs")
    j = docs.join(pages.select("url", "text"), "url")
    assert j.filter(F.col("content") != F.col("text")).count() == 0
    assert docs.count() == pages.filter(F.col("lang") == "en").count()


def test_chunk_parity_via_spark(spark, built):
    """Engine chunks (mapInPandas) == oracle chunk_document per doc."""
    from chavinha_mini_search_engine_spark.oracle.chunker import chunk_document

    docs = {r["id"]: r.asDict() for r in built.read(spark, "docs").collect()}
    got = sorted(
        (r["id"], r["chunk_index"], r["chunk_start"], r["chunk_end"], r["chunk_content"])
        for r in built.read(spark, "chunks").collect()
    )
    exp = []
    for d in docs.values():
        d = dict(d)
        d.pop("doc_type", None)
        for ch in chunk_document(d):
            exp.append((ch["id"], ch["chunk_index"], ch["chunk_start"], ch["chunk_end"], ch["chunk_content"]))
    assert got == sorted(exp)


def test_postings_blocks_wellformed(spark, built):
    from pyspark.sql import functions as F

    p = built.read_parts(spark, "postings")
    bad = p.filter(
        (F.col("first_local") > F.col("last_local")) | (F.col("n") <= 0)
        | (F.col("n") > CFG.block_size)
    ).count()
    assert bad == 0
    # block sequences are contiguous and sorted per (field, term, shard);
    # a block's (field, term) is its tid's dictionary row
    named = p.join(built.read(spark, "term_dict").select("tid", "field", "term"), "tid")
    assert named.count() == p.count()
    rows = named.select("field", "term", "shard", "block_idx", "first_local", "last_local").collect()
    bykey = {}
    for r in rows:
        bykey.setdefault((r["field"], r["term"], r["shard"]), []).append(r)
    for key, blks in bykey.items():
        blks.sort(key=lambda r: r["block_idx"])
        assert [b["block_idx"] for b in blks] == list(range(len(blks)))
        for a, b in zip(blks, blks[1:]):
            assert a["last_local"] < b["first_local"], f"overlap in {key}"
