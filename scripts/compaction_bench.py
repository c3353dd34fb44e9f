"""Tiered vs full compaction wall at protocol scale (verdict-r4 task 4).

Builds a base index over REPLICATE x sf0.1 pages (embeddings off), streams
one small delta batch (DELTA_DOCS synthetic pages), then times
compact_tiered (base blocks re-tile + delta-only re-tokenize) against
compact (full re-pipeline) on the same store.  Prints one JSON line.

Usage: python scripts/compaction_bench.py [replicate] [cpus]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    replicate = int(sys.argv[1]) if len(sys.argv) > 1 else 48
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{8 + cpus // 2}g")

    from pyspark.sql import functions as F

    from chavinha_mini_search_engine_spark.fixtures.pages import (
        generate_pages,
        pages_from_documents,
    )
    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
        compact,
        compact_tiered,
    )
    from chavinha_mini_search_engine_spark.session import get_spark
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore
    from chavinha_mini_search_engine_spark.streaming import incremental

    spark = get_spark(f"compactbench-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    reps = spark.range(replicate).repartition(cpus * 3).select(
        F.col("id").alias("rep")
    )
    big = reps.join(F.broadcast(docs)).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" rep"), F.col("rep").cast("string")).alias("text"),
        "lang", "source", "n_chars",
    )
    pages = pages_from_documents(big)
    n_pages = n_docs * replicate

    work = tempfile.mkdtemp(prefix="compact_bench_")
    rec: dict = {"n_base_pages": n_pages, "cpus": cpus}
    try:
        cfg = IndexConfig(num_doc_shards=64, shard_groups=1,
                          term_buckets=64, encode_buckets=8)
        store = IndexStore(os.path.join(work, "base"), build_id="cb")
        t = time.time()
        build_index(spark, pages, store, cfg, with_embeddings=False,
                    verify_text_invariant=False)
        rec["base_build_sec"] = round(time.time() - t, 1)

        # one streamed delta batch: ~1% of the base
        n_delta = max(n_pages // 100, 200)
        drows = generate_pages(n_delta, include_edges=False)
        ddir = os.path.join(work, "delta_pages")
        spark.createDataFrame(
            drows,
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ).repartition(4).write.parquet(ddir)
        t = time.time()
        incremental.stream_index_deltas(
            spark, ddir, store, cfg,
            checkpoint_dir=os.path.join(work, "ckpt"),
        ).awaitTermination(1200)
        rec["delta_stream_sec"] = round(time.time() - t, 1)
        rec["n_delta_pages"] = n_delta

        def stage_walls(st):
            out = {}
            for name, v in st.manifest["stages"].items():
                m = v.get("metrics", {})
                w = m.get("wall_sec")
                if w is None:
                    w = sum(p["metrics"].get("wall_sec", 0)
                            for p in v.get("parts", {}).values())
                out[name] = round(w, 1)
            return out

        t = time.time()
        tiered = compact_tiered(
            spark, store, IndexStore(os.path.join(work, "tiered"), build_id="ct"),
            cfg,
        )
        rec["tiered_sec"] = round(time.time() - t, 1)
        rec["tiered_stages"] = stage_walls(tiered)

        t = time.time()
        full = compact(
            spark, store, IndexStore(os.path.join(work, "full"), build_id="cf"),
            cfg)
        rec["full_sec"] = round(time.time() - t, 1)
        rec["full_stages"] = stage_walls(full)
        rec["speedup"] = round(rec["full_sec"] / max(rec["tiered_sec"], 1e-9), 2)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    main()
