"""Query-serving N vs 4N scaling (north_rule: BM25 query p95 + >=0.8
throughput scaling efficiency).

The build side's scaling story lives in scaling_bench.py; this is the
SERVING side.  One index is built once (subprocess, Spark), then served
by P resident worker processes at P=1 (N) and P=4 (4N) in two cluster
deployment shapes, both built from the scatter/gather decomposition in
operators/serve.py (search_candidates / merge_candidates):

- scatter: ONE index spread over P content nodes (worker r owns shards
  s where s % P == r, loaded via ResidentSearcher(shards=...)); every
  query fans out to all P nodes and a gateway process merges+enriches.
  This is how a cluster cuts per-query latency as it grows: 4x nodes ->
  each node scores 1/4 of the shards.  Metric: per-class p50/p95 and
  the mean-latency speedup / 4 as the efficiency.
- replica: P full-index replicas each serving a disjoint quarter of the
  query stream (how a cluster scales QPS).  Metric: aggregate QPS at
  P=1 vs P=4, efficiency = QPS_4 / (4 * QPS_1).

Queries are the deterministic per-selectivity-class sets from bench.py
(_per_class_queries) over the built term dictionary, so the workload is
reproducible and spans selective -> degenerate (match-everything).

Usage:
  python scripts/query_scaling_bench.py            # orchestrates all
  env: QSCALE_REPLICATE (default 96 -> 480k pages), QSCALE_SHARDS (64),
       QSCALE_EMBED (1), QSCALE_LEVELS (default "1,4")
"""

from __future__ import annotations

import datetime as dt
import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPLICATE = int(os.environ.get("QSCALE_REPLICATE", "96"))
HTML_REPEAT = int(os.environ.get("QSCALE_HTML_REPEAT", "8"))
NUM_SHARDS = int(os.environ.get("QSCALE_SHARDS", "64"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EMBED = os.environ.get("QSCALE_EMBED", "1") != "0"
LEVELS = [int(x) for x in os.environ.get("QSCALE_LEVELS", "1,4").split(",")]


def build(idx_dir: str, queries_json: str) -> None:
    """Child: build the index once and derive the per-class query sets."""
    from pyspark.sql import functions as F

    from bench import _per_class_queries
    from chavinha_mini_search_engine_spark.fixtures.pages import pages_from_documents
    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
    )
    from chavinha_mini_search_engine_spark.session import get_spark
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    spark = get_spark("qscale-build", master="local[16]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    reps = spark.range(REPLICATE).repartition(48).select(F.col("id").alias("rep"))
    big = reps.join(F.broadcast(docs)).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" rep"), F.col("rep").cast("string")).alias("text"),
        "lang", "source", "n_chars",
    )
    pages = pages_from_documents(big, html_repeat=HTML_REPEAT)
    cfg = IndexConfig(num_doc_shards=NUM_SHARDS, shard_groups=1,
                      term_buckets=64, encode_buckets=8)
    t = time.time()
    store = IndexStore(idx_dir, build_id="q")
    build_index(spark, pages, store, cfg, with_embeddings=EMBED,
                verify_text_invariant=False)
    wall = time.time() - t
    classes = _per_class_queries(spark, store)
    with open(queries_json, "w") as f:
        json.dump({"classes": classes, "n_pages": n_docs * REPLICATE,
                   "build_wall_sec": round(wall, 1)}, f)
    spark.stop()


def _worker(idx_dir: str, shards, conn) -> None:
    """Resident content node: load a shard subset (or all shards when
    shards is None), then serve scatter requests / replica streams."""
    from chavinha_mini_search_engine_spark.operators.serve import ResidentSearcher
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    rs = ResidentSearcher(IndexStore(idx_dir, build_id="q"), shards=shards)
    conn.send(("ready", len(rs.state_by_shard)))
    while True:
        msg = conn.recv()
        if msg[0] == "stop":
            return
        if msg[0] == "q":  # scatter: one query -> candidate pool
            _, query, st, k = msg
            conn.send(rs.search_candidates(query, st, k))
        elif msg[0] == "stream":  # replica: timed steady-state query loop
            _, queries, st, k, passes = msg
            st, _, mode = st.partition(":")  # "semantic:lsh" etc.
            mode = mode or "exact"
            for q in queries:  # pass 0: unmeasured warm-up over the FULL
                rs.search(q, st, k, mode)  # set (cold postings, caches)
            t0 = time.time()
            for _ in range(passes):
                for q in queries:
                    rs.search(q, st, k, mode)
            conn.send(("wall", time.time() - t0, passes * len(queries)))


def _spawn(idx_dir: str, shards):
    ctx = mp.get_context("spawn")
    parent, child = ctx.Pipe()
    p = ctx.Process(target=_worker, args=(idx_dir, shards, child), daemon=True)
    p.start()
    return p, parent


def run_scatter(idx_dir: str, classes: dict, P: int, k: int = 10) -> dict:
    """One index over P content nodes; gateway merges the candidate pools
    and fetches the winners' doc rows from its own doc-store handles.
    Sequential closed loop -> per-class latency distribution."""
    from chavinha_mini_search_engine_spark.operators.search import _query_terms
    from chavinha_mini_search_engine_spark.operators.serve import ResidentSearcher
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    procs = [
        _spawn(idx_dir, [s for s in range(NUM_SHARDS) if s % P == r])
        for r in range(P)
    ]
    owned = 0
    for _, conn in procs:
        owned += conn.recv()[1]
    assert owned == NUM_SHARDS, (owned, NUM_SHARDS)
    gateway = ResidentSearcher(IndexStore(idx_dir, build_id="q"), shards=[])

    def ask(q) -> float:
        for _, conn in procs:
            conn.send(("q", q, "bm25", k))
        t0 = time.time()
        pools = [conn.recv() for _, conn in procs]
        hits = ResidentSearcher.merge_candidates(pools, k)
        gateway._enrich(hits, _query_terms(q))
        return time.time() - t0

    out: dict = {}
    all_lat: list = []
    for cls, qs in classes.items():
        lat = []
        for i, q in enumerate(qs):
            el = ask(q)
            if i == 0:  # first query of a class primes caches, re-ask it
                el = ask(q)
            lat.append(el)
        lat.sort()
        all_lat.extend(lat)
        out[cls] = {
            "n": len(lat),
            "p50_ms": round(lat[len(lat) // 2] * 1e3, 2),
            "p95_ms": round(lat[max(int(len(lat) * 0.95) - 1, 0)] * 1e3, 2),
            "mean_ms": round(sum(lat) / len(lat) * 1e3, 2),
        }
    for p, conn in procs:
        conn.send(("stop",))
        p.join()
    out["overall_mean_ms"] = round(sum(all_lat) / len(all_lat) * 1e3, 2)
    out["overall_qps"] = round(len(all_lat) / sum(all_lat), 1)
    return out


def run_replica(idx_dir: str, classes: dict, P: int, k: int = 10,
                passes: int = 4, st: str = "bm25") -> dict:
    """P full-index replicas, aggregate steady-state QPS.

    Each replica serves the IDENTICAL interleaved traffic mix (the cluster
    shape this models: a load balancer spreads one query distribution over
    P replicas, so per-replica workloads are statistically identical, not
    disjoint class-skewed slices).  Pass 0 over the full set is unmeasured
    warm-up -- a replica's cold postings fetches are a deployment one-off,
    not throughput -- then ``passes`` timed passes; aggregate QPS =
    total measured queries / max worker wall."""
    # interleave classes so every stretch of the stream mixes selectivities
    ordered = [classes[c] for c in ("selective", "mid", "degenerate")]
    stream = [q for i in range(max(len(c) for c in ordered))
              for c in ordered if i < len(c) for q in (c[i],)]
    procs = [_spawn(idx_dir, None) for _ in range(P)]
    for _, conn in procs:
        conn.recv()
    t0 = time.time()
    for _, conn in procs:
        conn.send(("stream", stream, st, k, passes))
    walls = [conn.recv() for _, conn in procs]
    wall_outer = time.time() - t0
    for p, conn in procs:
        conn.send(("stop",))
        p.join()
    n = sum(w[2] for w in walls)
    agg_wall = max(w[1] for w in walls)
    return {
        "n_queries": n,
        "passes_per_replica": passes,
        "max_worker_wall_sec": round(agg_wall, 3),
        "outer_wall_sec": round(wall_outer, 3),
        "qps": round(n / agg_wall, 1),
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--build":
        build(sys.argv[2], sys.argv[3])
        return
    idx_dir = os.environ.get("QSCALE_IDX_DIR", "/tmp/qscale_idx")
    qjson = idx_dir.rstrip("/") + "_queries.json"
    if not os.path.exists(os.path.join(idx_dir, "manifest.json")) or \
            not os.path.exists(qjson) or \
            os.environ.get("QSCALE_REBUILD", "0") == "1":
        import shutil

        shutil.rmtree(idx_dir, ignore_errors=True)
        print(f"building index ({REPLICATE}x {SF_DIR}) ...", flush=True)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--build", idx_dir, qjson],
            check=True, cwd=REPO,
        )
    with open(qjson) as f:
        meta = json.load(f)
    classes = meta["classes"]
    print(json.dumps({k: len(v) for k, v in classes.items()}), flush=True)
    summary = {
        "workload": f"resident BM25 serving, {meta['n_pages']} pages, "
                    f"{NUM_SHARDS} shards{'' if EMBED else ', embeddings OFF'}",
        "scatter": {},
        "ts": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }
    if os.environ.get("QSCALE_SKIP_SCATTER", "0") != "1":
        for P in LEVELS:
            print(f"scatter P={P} ...", flush=True)
            summary["scatter"][str(P)] = run_scatter(idx_dir, classes, P)
            print(json.dumps(summary["scatter"][str(P)]), flush=True)
    else:
        del summary["scatter"]
    types = os.environ.get("QSCALE_SEARCH_TYPES", "bm25").split(",")
    for st in types:
        key = "replica" if st == "bm25" else "replica_" + st.replace(":", "_")
        summary.setdefault(key, {})
        for P in LEVELS:
            print(f"replica[{st}] P={P} ...", flush=True)
            summary[key][str(P)] = run_replica(idx_dir, classes, P, st=st)
            print(json.dumps(summary[key][str(P)]), flush=True)
    lo, hi = str(LEVELS[0]), str(LEVELS[-1])
    ratio = LEVELS[-1] // LEVELS[0]
    if "scatter" in summary:
        sc = summary["scatter"]
        summary["scatter_latency_speedup"] = round(
            sc[lo]["overall_mean_ms"] / sc[hi]["overall_mean_ms"], 3)
        summary["scatter_efficiency"] = round(
            summary["scatter_latency_speedup"] / ratio, 3)
    for st in types:
        key = "replica" if st == "bm25" else "replica_" + st.replace(":", "_")
        rp = summary[key]
        summary[f"{key}_qps_speedup"] = round(rp[hi]["qps"] / rp[lo]["qps"], 3)
        summary[f"{key}_efficiency"] = round(
            summary[f"{key}_qps_speedup"] / ratio, 3)
    print(json.dumps(summary), flush=True)
    if os.environ.get("QSCALE_NO_RECORD", "0") != "1":
        with open(os.path.join(REPO, "BENCH_SCALING.md"), "a") as f:
            f.write("\n```json\n" + json.dumps(summary) + "\n```\n")


if __name__ == "__main__":
    main()
