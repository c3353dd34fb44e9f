"""spark-submit entry point: index build.

Cluster usage (north_rule: multi-executor via spark-submit --py-files):

  zip -r engine.zip chavinha_mini_search_engine_spark
  spark-submit --py-files engine.zip scripts/submit_build.py \
      --pages s3://bucket/pages_parquet --index /mnt/index \
      --build-id nightly-2025-08-01 --shards 4096 --shard-groups 64

In cluster mode the SparkSession comes from spark-submit's conf (master,
executors, memory); locally it falls back to local[N].  All knobs of
IndexConfig are exposed as flags.
"""

import argparse
import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True, help="pages table path (parquet/Iceberg)")
    p.add_argument("--index", required=True, help="index store root")
    p.add_argument("--build-id", default=None)
    p.add_argument("--shards", type=int, default=32)
    p.add_argument("--shard-groups", type=int, default=8)
    p.add_argument("--term-buckets", type=int, default=64)
    p.add_argument("--no-embeddings", action="store_true")
    p.add_argument("--no-verify", action="store_true",
                   help="skip the byte-identical extraction assertion")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from chavinha_mini_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
    )
    from chavinha_mini_search_engine_spark.sources.tables import IndexStore

    spark = SparkSession.builder.appName("chavinha-index-build").getOrCreate()
    cfg = IndexConfig(
        num_doc_shards=args.shards, shard_groups=args.shard_groups,
        term_buckets=args.term_buckets,
    )
    store = IndexStore(args.index, build_id=args.build_id)
    build_index(
        spark, spark.read.parquet(args.pages), store, cfg,
        with_embeddings=not args.no_embeddings,
        verify_text_invariant=not args.no_verify,
    )
    print(json.dumps({
        "build_id": store.build_id,
        "stages": {s: v.get("metrics", {}) for s, v in store.manifest["stages"].items()},
    }))


if __name__ == "__main__":
    main()
