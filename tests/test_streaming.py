"""Structured Streaming operators (streaming/incremental.py)."""

import os

import pytest
from pyspark.sql import functions as F

from chavinha_mini_search_engine_spark.fixtures.pages import generate_pages
from chavinha_mini_search_engine_spark.streaming import incremental


@pytest.mark.slow
def test_index_deltas_searchable(spark, tmp_path_factory):
    """Base build + MULTIPLE streamed delta micro-batches: new docs become
    searchable, and per-(shard, local_id) layout stays collision-free
    across segments (each batch must offset past base + earlier deltas)."""
    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
    )
    from chavinha_mini_search_engine_spark.operators.search import SearchEngine
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    cfg = IndexConfig(num_doc_shards=4, shard_groups=2, term_buckets=8)
    base_dir = str(tmp_path_factory.mktemp("base") / "pages")
    rows = generate_pages(40, include_edges=False)
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    spark.createDataFrame(rows[:30], schema).write.parquet(base_dir)

    store = IndexStore(str(tmp_path_factory.mktemp("bidx") / "i"), build_id="sb")
    build_index(spark, spark.read.parquet(base_dir), store, cfg,
                with_embeddings=True, verify_text_invariant=False)

    delta_dir = str(tmp_path_factory.mktemp("delta") / "pages")
    # 8 files with maxFilesPerTrigger=4 -> at least 2 micro-batches, so the
    # second batch's local_id offsets must account for the first's rows
    spark.createDataFrame(rows[30:], schema).repartition(8).write.parquet(delta_dir)
    ckpt = str(tmp_path_factory.mktemp("delta") / "ckpt")
    q = incremental.stream_index_deltas(spark, delta_dir, store, cfg,
                                        checkpoint_dir=ckpt)
    q.awaitTermination(600)
    # each micro-batch scans its source files once: the stream's input
    # rows are the delta's page rows (an uncached batch re-scans them for
    # every action and reports several rows per page)
    assert sum(p["numInputRows"] for p in q.recentProgress) == len(rows) - 30

    # delta parts exist and the union parses
    parts = os.listdir(store.path("postings"))
    n_delta_parts = sum(1 for p in parts if p.startswith("delta="))
    assert n_delta_parts >= 2, f"need >=2 micro-batches, got {parts}"
    post = store.read_parts(spark, "postings")
    tids = [r["tid"] for r in store.read(spark, "term_dict")
            .filter(F.col("term") == "python").collect()]
    assert post.filter(F.col("tid").isin(tids)).count() > 0

    # (shard, local_id) is unique across base + all delta segments
    layout = (
        store.read(spark, "unified").select("shard", "local_id")
        .unionByName(
            store.read_parts(spark, "unified_delta").select("shard", "local_id")
        )
    )
    dup = (
        layout.groupBy("shard", "local_id").count()
        .filter(F.col("count") > 1).count()
    )
    assert dup == 0, "delta segments alias base/delta (shard, local_id) slots"

    # restarting the stream on the same checkpoint with no new files
    # reprocesses nothing: no new segment, no new commit
    committed = store.committed_parts("postings")
    seg_parts = dict(store.manifest["stages"]["stream_deltas"]["parts"])
    q2 = incremental.stream_index_deltas(spark, delta_dir, store, cfg,
                                         checkpoint_dir=ckpt)
    q2.awaitTermination(600)
    assert sum(p["numInputRows"] for p in q2.recentProgress) == 0
    reread = IndexStore(store.root)  # the manifest on disk
    assert reread.committed_parts("postings") == committed
    assert reread.manifest["stages"]["stream_deltas"]["parts"] == seg_parts

    # the offsets the next stream reads from footers and segment commits
    # must equal the actual layout maxima
    offs = store.segment_offsets()
    exp_offs = {
        int(r["shard"]): int(r["mx"])
        for r in layout.groupBy("shard").agg(F.max("local_id").alias("mx")).collect()
    }
    assert offs == exp_offs, (offs, exp_offs)

    # /api/stats must count streamed docs too (base docs + delta full_docs)
    from chavinha_mini_search_engine_spark.http_api import domain_stats

    exp_total = (
        store.read(spark, "docs").count()
        + store.read_parts(spark, "unified_delta")
        .filter(F.col("doc_type") == "full_doc").count()
    )
    st_resp = domain_stats(store)
    assert st_resp["total_documents"] == exp_total, (
        st_resp["total_documents"], exp_total,
    )
    assert sum(d["document_count"] for d in st_resp["domains"]) == exp_total

    # a doc only present in the delta is retrievable end-to-end
    import hashlib

    from chavinha_mini_search_engine_spark.functions.tokenizer import tokenize_py

    delta_en = [r for r in rows[30:] if r["lang"] == "en"]
    target = delta_en[0]
    target_id = hashlib.md5(target["url"].encode()).hexdigest()
    # query with terms the BASE dictionary knows (delta postings inherit the
    # base term_dict; brand-new terms enter at compaction -- documented)
    terms = [t for t in tokenize_py(target["text"]) if len(t) > 4][:4]
    assert terms, "delta doc must have tokens"
    eng = SearchEngine(spark, store, cfg, cache=False)
    res = eng.search(" ".join(terms), "bm25", 50)
    ids = [r["id"] for r in res.collect()]
    assert target_id in ids, f"delta doc {target_id} not retrieved"

    # hybrid over base(+embeddings) + deltas(null embeddings) is
    # rank-identical to the oracle (delta docs' semantic arm scores 0.0
    # in both; semantic mode excludes embedding-less chunks in both).
    # Delta postings inherit the BASE corpus stats / idf (the documented
    # Lucene-segment drift, refreshed at compaction), so the oracle over
    # the union is pinned to base-only stats to model the same semantics.
    import numpy as np

    from chavinha_mini_search_engine_spark.oracle.scorer import OracleIndex

    def to_odocs(df):
        out = []
        for r in df.collect():
            d = r.asDict()
            emb = d.pop("embedding", None)
            d["embedding"] = (
                np.asarray(emb, dtype=np.float32) if emb is not None else None
            )
            out.append(d)
        return out

    base_docs_u = store.read(spark, "unified")
    union = base_docs_u.unionByName(store.read_parts(spark, "unified_delta"))
    oracle = OracleIndex(to_odocs(union))
    oracle.stats = OracleIndex(to_odocs(base_docs_u)).stats
    for st in ("hybrid", "semantic"):
        hq = " ".join(terms)
        got = sorted(
            ((r["id"], round(r["relevance"], 9)) for r in eng.search(hq, st, 20).collect()),
            key=lambda t: (-t[1], t[0]),
        )
        exp = sorted(
            ((h["doc_id"], round(h["score"], 9)) for h in oracle.search(hq, st, 20)),
            key=lambda t: (-t[1], t[0]),
        )
        assert [g[0] for g in got] == [e[0] for e in exp], f"{st} ids diverge over deltas"
        for (gid, gs), (_, es) in zip(got, exp):
            assert abs(gs - es) < 1e-8, f"{st} score drift {gid}: {gs} vs {es}"


# --- crash-window recovery (VERDICT r3 "What's wrong" #1) ---


@pytest.fixture(scope="module")
def crash_fixture(spark, tmp_path_factory):
    """A built base index + delta pages, copied per test (each crash test
    mutates its own store root)."""
    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
    )
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    cfg = IndexConfig(num_doc_shards=4, shard_groups=2, term_buckets=8)
    rows = generate_pages(40, include_edges=False)
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    base_dir = str(tmp_path_factory.mktemp("cr") / "pages")
    spark.createDataFrame(rows[:28], schema).write.parquet(base_dir)
    root = str(tmp_path_factory.mktemp("cr") / "idx")
    store = IndexStore(root, build_id="crash-base")
    build_index(spark, spark.read.parquet(base_dir), store, cfg,
                with_embeddings=False, verify_text_invariant=False)
    delta_dir = str(tmp_path_factory.mktemp("cr") / "delta")
    # 8 files, maxFilesPerTrigger=4 -> 2 micro-batches
    spark.createDataFrame(rows[28:], schema).repartition(8).write.parquet(delta_dir)
    return cfg, rows, root, delta_dir


def _copy_store(src_root, tmp_path_factory):
    import shutil

    dst = str(tmp_path_factory.mktemp("crcopy") / "idx")
    shutil.copytree(src_root, dst)
    return dst


def _delta_fulldoc_ids(spark, store):
    return [
        r["id"]
        for r in store.read_parts(spark, "unified_delta")
        .filter(F.col("doc_type") == "full_doc").select("id").collect()
    ]


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _assert_stream_healed(spark, store, delta_rows):
    """After a restart on the crashed stream's checkpoint: no orphan part,
    every `en` delta doc exactly once, no (shard, local_id) alias across
    base + committed deltas, and the segment offsets equal the true
    per-shard maxima.  Returns the (shard, local_id) layout."""
    import hashlib

    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    for tbl in ("postings", "attributes_delta", "unified_delta"):
        assert store.orphan_parts(tbl) == [], tbl

    layout = (
        store.read(spark, "unified").select("shard", "local_id")
        .unionByName(
            store.read_parts(spark, "unified_delta").select("shard", "local_id")
        )
    )
    dup = (layout.groupBy("shard", "local_id").count()
           .filter(F.col("count") > 1).count())
    assert dup == 0, "replay aliased the orphan segment's slots"

    exp_ids = sorted(
        hashlib.md5(r["url"].encode()).hexdigest()
        for r in delta_rows if r["lang"] == "en"
    )
    assert sorted(_delta_fulldoc_ids(spark, store)) == exp_ids

    # a fresh handle reads the offsets the next stream would start from
    offs = IndexStore(store.root).segment_offsets()
    exp_offs = {
        int(r["shard"]): int(r["mx"])
        for r in layout.groupBy("shard").agg(F.max("local_id").alias("mx")).collect()
    }
    assert offs == exp_offs
    return layout


@pytest.mark.slow
@pytest.mark.parametrize("k", [1, 2, 3])
def test_stream_crash_at_each_delta_write_heals(spark, crash_fixture,
                                                tmp_path_factory, k):
    """Crash at the k-th delta table write of a micro-batch.  The three
    writes run concurrently, so k counts write calls, not tables.  Every
    write runs in the stream's job group (so stopping the query cancels
    it), the failed batch must leave nothing cached, and a restart on the
    same checkpoint must drop the partial segment and replay the batch."""
    import threading

    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    cfg, rows, src_root, delta_dir = crash_fixture
    root = _copy_store(src_root, tmp_path_factory)
    ckpt = str(tmp_path_factory.mktemp("crw") / "ckpt")

    orig = IndexStore.write
    lock = threading.Lock()
    calls, groups = [], set()

    def bomb(self, df, table, part=None, *args, **kwargs):
        if part and part.startswith("delta="):
            with lock:
                calls.append(table)
                groups.add(spark.sparkContext.getLocalProperty(
                    "spark.jobGroup.id"))
                n = len(calls)
            if n == k:
                raise RuntimeError(f"simulated crash at delta write {k}")
        return orig(self, df, table, part, *args, **kwargs)

    cached_before = _persistent_rdds(spark)
    IndexStore.write = bomb
    try:
        q = incremental.stream_index_deltas(spark, delta_dir, IndexStore(root),
                                            cfg, checkpoint_dir=ckpt)
        with pytest.raises(Exception):
            q.awaitTermination(600)
    finally:
        IndexStore.write = orig
    assert len(calls) == 3, calls
    assert groups == {str(q.runId)}, groups
    assert _persistent_rdds(spark) == cached_before, "failed batch left a cache"

    store2 = IndexStore(root)
    assert not store2.has_parts("unified_delta")
    assert any(
        store2.orphan_parts(t)
        for t in ("postings", "attributes_delta", "unified_delta")
    ), "the writes that did not fail must leave an uncommitted segment"

    q = incremental.stream_index_deltas(spark, delta_dir, store2, cfg,
                                        checkpoint_dir=ckpt)
    q.awaitTermination(600)
    _assert_stream_healed(spark, store2, rows[28:])


@pytest.mark.slow
def test_stream_reads_no_base_unified_or_stats_table(spark, crash_fixture,
                                                    tmp_path_factory):
    """A stream into a freshly built store takes its segment offsets from
    the base footers and its avgdl from IndexStore.corpus_stats: with
    IndexStore.read failing for `unified` and `corpus_stats`, every
    micro-batch still commits its segment."""
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    cfg, rows, src_root, delta_dir = crash_fixture
    root = _copy_store(src_root, tmp_path_factory)
    ckpt = str(tmp_path_factory.mktemp("nr") / "ckpt")

    orig = IndexStore.read

    def no_read(self, spark_, table, *args, **kwargs):
        if table in ("unified", "corpus_stats"):
            raise RuntimeError(f"stream read {table}")
        return orig(self, spark_, table, *args, **kwargs)

    IndexStore.read = no_read
    try:
        q = incremental.stream_index_deltas(spark, delta_dir, IndexStore(root),
                                            cfg, checkpoint_dir=ckpt)
        q.awaitTermination(600)
    finally:
        IndexStore.read = orig
    batches = [p for p in q.recentProgress if p["numInputRows"]]
    store = IndexStore(root)
    assert len(store.committed_parts("unified_delta")) == len(batches) == 2
    _assert_stream_healed(spark, store, rows[28:])


@pytest.mark.slow
def test_stream_batch_without_en_pages_commits_nothing(spark, built,
                                                       tmp_path_factory):
    """A micro-batch whose pages are all non-`en` extracts no doc: it
    commits no segment and leaves no part, and the checkpoint still
    advances, so a second start processes nothing."""
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    root = _copy_store(built.root, tmp_path_factory)
    store = IndexStore(root)
    committed = store.committed_parts("unified_delta")
    rows = [dict(r, lang="de")
            for r in generate_pages(12, include_edges=False)]
    de_dir = str(tmp_path_factory.mktemp("de") / "pages")
    spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).repartition(2).write.parquet(de_dir)
    ckpt = str(tmp_path_factory.mktemp("de") / "ckpt")

    q = incremental.stream_index_deltas(spark, de_dir, store,
                                        checkpoint_dir=ckpt)
    q.awaitTermination(600)
    assert sum(p["numInputRows"] for p in q.recentProgress) == len(rows)

    store2 = IndexStore(root)
    assert store2.committed_parts("unified_delta") == committed
    for tbl in ("postings", "attributes_delta", "unified_delta"):
        assert store2.orphan_parts(tbl) == [], tbl
    assert "stream_deltas" not in store2.manifest["stages"]

    q = incremental.stream_index_deltas(spark, de_dir, store2,
                                        checkpoint_dir=ckpt)
    q.awaitTermination(600)
    assert sum(p["numInputRows"] for p in q.recentProgress) == 0


@pytest.mark.slow
def test_stream_crash_before_manifest_commit_heals(spark, crash_fixture,
                                                   tmp_path_factory):
    """Crash between the delta segment writes and the manifest commit:
    the orphan segment must never be served, the replayed batch must not
    alias its (shard, local_id) slots, and restart must self-heal."""
    import hashlib

    from chavinha_mini_search_engine_spark.operators.serve import ResidentSearcher
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    cfg, rows, src_root, delta_dir = crash_fixture
    root = _copy_store(src_root, tmp_path_factory)
    store = IndexStore(root)
    ckpt = str(tmp_path_factory.mktemp("crc") / "ckpt")

    orig = IndexStore.finish_part

    def bomb(self, stage, part, metrics=None):
        if stage == "stream_deltas":
            raise RuntimeError("simulated crash before manifest commit")
        return orig(self, stage, part, metrics)

    IndexStore.finish_part = bomb
    try:
        q = incremental.stream_index_deltas(spark, delta_dir, store, cfg,
                                            checkpoint_dir=ckpt)
        with pytest.raises(Exception):
            q.awaitTermination(600)
    finally:
        IndexStore.finish_part = orig

    # fresh handle = what a restarted process sees (disk manifest)
    store2 = IndexStore(root)
    orphans = store2.orphan_parts("unified_delta")
    assert orphans, "crash run must leave an uncommitted on-disk segment"
    # the orphan is invisible to every read path
    assert not store2.has_parts("unified_delta")
    assert store2.committed_parts("postings") == [
        p for p in store2.list_parts("postings") if p.startswith("grp=")
    ]

    # restart with the same checkpoint: orphans GC'd, batches replayed
    q = incremental.stream_index_deltas(spark, delta_dir, store2, cfg,
                                        checkpoint_dir=ckpt)
    q.awaitTermination(600)
    _assert_stream_healed(spark, store2, rows[28:])

    # the positional resident kernel loads and retrieves a delta doc
    from chavinha_mini_search_engine_spark.functions.tokenizer import tokenize_py

    target = next(r for r in rows[28:] if r["lang"] == "en")
    target_id = hashlib.md5(target["url"].encode()).hexdigest()
    terms = [t for t in tokenize_py(target["text"]) if len(t) > 4][:4]
    rs = ResidentSearcher(store2, cfg)
    ids = [h["id"] for h in rs.search(" ".join(terms), "bm25", 50)]
    assert target_id in ids


@pytest.mark.slow
def test_stream_crash_after_manifest_commit_is_idempotent(spark, crash_fixture,
                                                          tmp_path_factory):
    """Crash AFTER the manifest commit but before the stream checkpoint
    commit: the replayed micro-batch must recognize its own committed
    segment (stream_id+batch_id) and skip, not double-write the docs."""
    import hashlib

    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    cfg, rows, src_root, delta_dir = crash_fixture
    root = _copy_store(src_root, tmp_path_factory)
    store = IndexStore(root)
    ckpt = str(tmp_path_factory.mktemp("cri") / "ckpt")

    orig = IndexStore.finish_part
    fired = []

    def bomb_after(self, stage, part, metrics=None):
        out = orig(self, stage, part, metrics)
        if stage == "stream_deltas" and not fired:
            fired.append(part)
            raise RuntimeError("simulated crash after manifest commit")
        return out

    IndexStore.finish_part = bomb_after
    try:
        q = incremental.stream_index_deltas(spark, delta_dir, store, cfg,
                                            checkpoint_dir=ckpt)
        with pytest.raises(Exception):
            q.awaitTermination(600)
    finally:
        IndexStore.finish_part = orig

    store2 = IndexStore(root)
    n_committed_before = len(store2.committed_parts("unified_delta"))
    assert n_committed_before == 1

    q = incremental.stream_index_deltas(spark, delta_dir, store2, cfg,
                                        checkpoint_dir=ckpt)
    q.awaitTermination(600)

    # batch 0 was skipped on replay (its segment already committed);
    # batch 1 added exactly one more segment; zero duplicate docs
    ids = _delta_fulldoc_ids(spark, store2)
    assert len(ids) == len(set(ids)), "replay double-wrote a committed batch"
    exp_ids = sorted(
        hashlib.md5(r["url"].encode()).hexdigest()
        for r in rows[28:] if r["lang"] == "en"
    )
    assert sorted(ids) == exp_ids
    assert store2.orphan_parts("unified_delta") == []


@pytest.mark.slow
def test_tiered_compaction_tokenizes_delta_once(spark, crash_fixture,
                                                tmp_path_factory,
                                                monkeypatch):
    """compact_tiered tokenizes the streamed delta documents once, for
    both the merged dictionary and the fresh delta postings, tokenizes
    no base row, and releases the cached tokens when it returns."""
    from chavinha_mini_search_engine_spark.operators import index_build
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    cfg, _rows, src_root, delta_dir = crash_fixture
    store = IndexStore(_copy_store(src_root, tmp_path_factory))
    incremental.stream_index_deltas(
        spark, delta_dir, store, cfg,
        checkpoint_dir=str(tmp_path_factory.mktemp("tk") / "ckpt"),
    ).awaitTermination(600)
    assert store.committed_parts("unified_delta")

    calls = []
    orig = index_build.tokenize_tf

    def counted(unified, cfg_):
        calls.append(unified.count())
        return orig(unified, cfg_)

    monkeypatch.setattr(index_build, "tokenize_tf", counted)
    cached = _persistent_rdds(spark)
    out = index_build.compact_tiered(
        spark, store,
        IndexStore(str(tmp_path_factory.mktemp("tk") / "i"), build_id="tk"),
        cfg,
    )
    # one call, over exactly the delta tier's rows: base text is never
    # re-tokenized
    assert calls == [store.read_parts(spark, "unified_delta").count()]
    assert _persistent_rdds(spark) == cached
    assert sorted(out.committed_parts("postings")) == ["grp=0", "grp=1"]


@pytest.mark.slow
def test_tiered_compaction_matches_full_rebuild(spark, tmp_path_factory):
    """compact_tiered (run/block-grain merge, NO re-tokenize of the base)
    over a base + streamed deltas must serve rank- and score-identically
    to a from-scratch build_index over the same pages, with an identical
    dictionary and corpus stats."""
    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
        compact_tiered,
    )
    from chavinha_mini_search_engine_spark.operators.search import SearchEngine
    from chavinha_mini_search_engine_spark.operators.serve import ResidentSearcher
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    cfg = IndexConfig(num_doc_shards=4, shard_groups=2, term_buckets=8)
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    rows = generate_pages(50, include_edges=False)
    base_dir = str(tmp_path_factory.mktemp("tc_base") / "pages")
    spark.createDataFrame(rows[:30], schema).write.parquet(base_dir)
    store = IndexStore(str(tmp_path_factory.mktemp("tc_bidx") / "i"), build_id="tcb")
    build_index(spark, spark.read.parquet(base_dir), store, cfg,
                with_embeddings=False, verify_text_invariant=False)

    delta_dir = str(tmp_path_factory.mktemp("tc_delta") / "pages")
    spark.createDataFrame(rows[30:], schema).repartition(8).write.parquet(delta_dir)
    incremental.stream_index_deltas(
        spark, delta_dir, store, cfg,
        checkpoint_dir=str(tmp_path_factory.mktemp("tc_ck") / "ckpt"),
    ).awaitTermination(600)
    assert any(
        p.startswith("delta=") for p in store.committed_parts("postings")
    ), "fixture must produce delta segments"

    tiered = compact_tiered(
        spark, store,
        IndexStore(str(tmp_path_factory.mktemp("tc_t") / "i"), build_id="tct"),
        cfg,
    )
    full_dir = str(tmp_path_factory.mktemp("tc_full") / "pages")
    spark.createDataFrame(rows, schema).write.parquet(full_dir)
    full = IndexStore(str(tmp_path_factory.mktemp("tc_f") / "i"), build_id="tcf")
    build_index(spark, spark.read.parquet(full_dir), full, cfg,
                with_embeddings=False, verify_text_invariant=False)

    # dictionary + stats identical (df summed from delta block counts must
    # equal a recount; avgdl/n_docs re-derived from attribute lengths must
    # equal a re-tokenize)
    def rows_of(st, tbl):
        df = st.read(spark, tbl)
        cols = sorted(df.columns)
        return sorted(tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect())

    assert rows_of(tiered, "term_dict") == rows_of(full, "term_dict")
    assert rows_of(tiered, "corpus_stats") == rows_of(full, "corpus_stats")
    assert tiered.manifest.get("compaction") == "tiered"

    # lineage: each tiered postings part records the metrics of what it
    # wrote, and per-shard build_metrics rows, like every build
    import pyarrow.parquet as pq

    parts = tiered.manifest["stages"]["postings"]["parts"]
    assert sorted(parts) == ["grp=0", "grp=1"]
    total = 0
    for part, info in parts.items():
        n = pq.read_table(tiered.path("postings", part),
                          columns=["n"]).column("n").to_pylist()
        assert info["metrics"]["postings"] == sum(n), part
        assert info["metrics"]["blocks"] == len(n), part
        total += sum(n)
    bm = tiered.read(spark, "build_metrics")
    assert bm.count() > 0
    assert bm.agg(F.sum("rows")).first()[0] == total

    # block wellformedness on the re-tiled postings
    bl = tiered.read_parts(spark, "postings")
    assert bl.filter(F.col("n") > cfg.block_size).count() == 0
    assert bl.filter(F.col("first_local") > F.col("last_local")).count() == 0

    # serve parity: every query class, both serve paths
    from chavinha_mini_search_engine_spark.functions.tokenizer import tokenize_py

    qs = []
    for r in rows:
        ts = [t for t in tokenize_py(r["text"]) if len(t) > 3][:3]
        if ts:
            qs.append(" ".join(ts))
        if len(qs) >= 5:
            break
    eng_t = SearchEngine(spark, tiered, cfg, cache=False)
    eng_f = SearchEngine(spark, full, cfg, cache=False)
    rs_t = ResidentSearcher(tiered, cfg)
    rs_f = ResidentSearcher(full, cfg)
    for q in qs:
        got = [(r["id"], round(r["relevance"], 9))
               for r in eng_t.search(q, "bm25", 20).collect()]
        exp = [(r["id"], round(r["relevance"], 9))
               for r in eng_f.search(q, "bm25", 20).collect()]
        assert got == exp, f"spark-path divergence for {q!r}"
        rgot = [(h["id"], round(h["relevance"], 9)) for h in rs_t.search(q, "bm25", 20)]
        rexp = [(h["id"], round(h["relevance"], 9)) for h in rs_f.search(q, "bm25", 20)]
        assert rgot == rexp == got, f"resident-path divergence for {q!r}"

    # stats over a compacted store (no docs table: the document store
    # stays with the base segment) count its merged unified full_doc rows
    from chavinha_mini_search_engine_spark.http_api import domain_stats

    st = domain_stats(tiered)
    assert st["total_documents"] == sum(1 for r in rows if r["lang"] == "en")
    assert st["total_documents"] == sum(
        d["document_count"] for d in st["domains"])
