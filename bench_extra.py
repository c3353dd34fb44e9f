"""Extra benchmarks for optimization work (bench.py is FROZEN for
measurement; this file holds the builder's own isolation probes).

Usage:
  python bench_extra.py build      # bench-identical index build + per-stage manifest breakdown
  python bench_extra.py ops        # noop-sink isolation of the scan ops (guide §1.4)
  python bench_extra.py resident   # resident serve-path latency loop
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _spark(cpus):
    from chavinha_mini_search_engine_spark.session import get_spark

    spark = get_spark("bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def profile_build(sf_dir: str, cpus: int, reps: int = 1) -> None:
    """Bench-identical build (same cfg as bench.py) with the per-stage
    manifest wall-times printed -- the empirical loop of guide §1."""
    from chavinha_mini_search_engine_spark.fixtures.pages import pages_from_documents
    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
    )
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    spark = _spark(cpus)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    for rep in range(reps):
        idx_dir = tempfile.mkdtemp(prefix="bx_idx_")
        try:
            pages = pages_from_documents(docs)
            cfg = IndexConfig(num_doc_shards=cpus, shard_groups=4,
                              term_buckets=64)
            store = IndexStore(os.path.join(idx_dir, "idx"), build_id="bx")
            t = time.time()
            build_index(spark, pages, store, cfg, with_embeddings=True,
                        verify_text_invariant=False)
            wall = time.time() - t
            out = {"rep": rep, "total": round(wall, 2), "stages": {}}
            # timeline: stage begin/finish timestamps expose the work that
            # happens BETWEEN stage timers (store reads, manifest writes)
            tl = []
            for st, info in store.manifest["stages"].items():
                tl.append((st, info.get("started_ts"), info.get("finished_ts")))
            tl.sort(key=lambda x: x[1] or 0)
            t0 = tl[0][1]
            out["timeline"] = [
                (st, round(s - t0, 2), round((f or s) - t0, 2)) for st, s, f in tl
            ]
            for st, info in store.manifest["stages"].items():
                m = dict(info.get("metrics") or {})
                if info.get("parts"):
                    m["parts"] = {
                        p: round(pi.get("metrics", {}).get("wall_sec", 0), 2)
                        for p, pi in info["parts"].items()
                    }
                out["stages"][st] = {
                    k: (round(v, 2) if isinstance(v, float) else v)
                    for k, v in m.items()
                    if k in ("wall_sec", "rows", "tf_write_sec", "doclens_sec",
                             "corpus_stats_sec", "term_dict_sec",
                             "tid_verify_sec", "parts")
                }
            print(json.dumps(out, indent=1))
        finally:
            shutil.rmtree(idx_dir, ignore_errors=True)
    spark.stop()


def profile_ops(sf_dir: str, cpus: int, reps: int = 3) -> None:
    """Warm-min timings of the scan ops, same protocol as bench.py."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from chavinha_mini_search_engine_spark.operators import (
        dedup,
        graph_ann,
        similarity,
        textstats,
    )

    spark = _spark(cpus)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs_en = docs.filter(F.col("lang") == "en")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    timings = {}

    def timed_op(key, fn):
        spark.sparkContext.setJobDescription(key)
        fn()
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        timings[key] = round(best, 3)
        print(f"{key}: {timings[key]}", flush=True)

    timed_op("bm25_scan_topk", lambda: entry._q_bm25_topk(spark, sf_dir).collect())
    timed_op("dedup_exact", lambda: dedup.exact_dedup(docs).count())
    timed_op("dedup_minhash_lsh",
             lambda: dedup.minhash_lsh_dedup(docs_en, threshold=0.12).count())
    timed_op("dedup_simhash",
             lambda: dedup.simhash_neardup_pairs(docs, max_hamming=3).count())
    timed_op("embedding_neardup_banded",
             lambda: similarity.cosine_neardup_pairs_banded(emb, threshold=0.5).count())
    timed_op("ann_brute_topk", lambda: similarity.cosine_topk(emb, qvec, 10).collect())
    timed_op("ann_lsh_topk",
             lambda: similarity.lsh_bucketed_topk(emb, qvec, 10).collect())
    timed_op("ann_graph_topk", lambda: graph_ann.graph_topk(emb, qvec, 10).collect())

    def _textstats():
        textstats.quality_features(docs).count()
        textstats.language_id(docs).count()
        textstats.token_counts(docs).count()

    timed_op("textstats_all", _textstats)
    print(json.dumps(timings))
    spark.stop()


def profile_resident(sf_dir: str, cpus: int) -> None:
    """Resident serve-path latencies, bench.py-equivalent protocol
    (build once, warm, time ALL_QUERIES + per-class sets)."""
    from pyspark.sql import functions as F

    import bench as bench_mod
    from chavinha_mini_search_engine_spark.fixtures.pages import pages_from_documents
    from chavinha_mini_search_engine_spark.fixtures.queries import ALL_QUERIES
    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
    )
    from chavinha_mini_search_engine_spark.operators.serve import ResidentSearcher
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    spark = _spark(cpus)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    idx_dir = tempfile.mkdtemp(prefix="bx_res_")
    timings = {}
    try:
        pages = pages_from_documents(docs)
        cfg = IndexConfig(num_doc_shards=cpus, shard_groups=4,
                          term_buckets=64)
        store = IndexStore(os.path.join(idx_dir, "idx"), build_id="bxr")
        build_index(spark, pages, store, cfg, with_embeddings=True,
                    verify_text_invariant=False)
        rs = ResidentSearcher(store, cfg)
        for wq in ("warmup query python", "docker kubernetes", "a"):
            rs.search(wq, "bm25", 10)
        rlat, rlat_matched = [], []
        for q in ALL_QUERIES:
            t = time.time()
            hits = rs.search(q, "bm25", 10)
            dt = time.time() - t
            rlat.append(dt)
            if hits:
                rlat_matched.append(dt)
        rlat.sort()
        timings["bm25_resident_p95_ms"] = round(rlat[int(len(rlat) * .95) - 1] * 1e3, 2)
        classes = bench_mod._per_class_queries(spark, store)
        for cls, qs in classes.items():
            for st in ("bm25", "hybrid", "semantic"):
                if qs and st == "bm25":
                    rs.search(qs[0], st, 10)
                lat_c = []
                for q in qs:
                    t = time.time()
                    rs.search(q, st, 10)
                    lat_c.append(time.time() - t)
                if not lat_c:
                    continue
                lat_c.sort()
                key = f"{st}_resident_{cls}"
                timings[f"{key}_p50_ms"] = round(lat_c[len(lat_c) // 2] * 1e3, 2)
                timings[f"{key}_p95_ms"] = round(
                    lat_c[max(int(len(lat_c) * 0.95) - 1, 0)] * 1e3, 2)
                if st == "bm25":
                    rlat_matched.extend(lat_c)
        m = sorted(rlat_matched)
        timings["bm25_resident_matched_n"] = len(m)
        timings["bm25_resident_matched_p50_ms"] = round(m[len(m) // 2] * 1e3, 2)
        timings["bm25_resident_matched_p95_ms"] = round(
            m[max(int(len(m) * 0.95) - 1, 0)] * 1e3, 2)
        print(json.dumps(timings, indent=1, sort_keys=True))
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    spark.stop()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    mode = sys.argv[1] if len(sys.argv) > 1 else "build"
    if mode == "build":
        profile_build(sf_dir, cpus, reps=int(sys.argv[2]) if len(sys.argv) > 2 else 1)
    elif mode == "ops":
        profile_ops(sf_dir, cpus)
    elif mode == "resident":
        profile_resident(sf_dir, cpus)
    else:
        raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
